package graft.multimodal

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{IndexLifecycle, Parquet}

/** The persisted 64-bit-perceptual-hash ingest gate, factored out of the
  * image tier so every modality with a 64-char sign/bit fingerprint
  * (images: aHash, audio: the Haitsma–Kalker lag-comb hash) shares ONE
  * battle-tested engine — layout, crash ordering, tombstone lifecycle,
  * probe family and tier structure are modality-independent; only the
  * hash derivation differs, and the thin wrappers ([[PhashIndex]],
  * [[AudioHashIndex]]) own that.
  *
  * Layout:
  *   path/hashes — one row per resident: (doc_id, <hashCol>, extras…) —
  *     since r13 a doc_id-keyed [[graft.sources.KeyedSidecar]] (bucketed,
  *     key-sorted, size-adaptive), so the id-disjointness gate point-reads
  *     the batch's own ids on big corpora instead of scanning every
  *     resident. The id gate's authority, written FIRST on append so an
  *     at-least-once replay trips the disjointness gate instead of
  *     double-appending derived rows (the LshIndex crash-ordering
  *     contract).
  *   path/probes — (probe, doc_id, r_hash), FLAT at every size (measured,
  *     r13): each resident's hash plus its 64 one-bit flips — the Manku
  *     radius-2 probe family, PERSISTED so an arriving batch only expands
  *     its own side — CARRYING the resident hash (r12) so the Hamming
  *     filter runs right on the probe join. The batch probes with its own
  *     65-flip family, and batch×65 keys always exceed the parquet
  *     OR-of-eq pushdown cap, so a key-bucketed layout could never
  *     point-prune this read — an interim probe-keyed cut measurably
  *     SLOWED every perceptual gate at 100× residents. The plain probes
  *     scan is the mm family's band-candidate consultation (the LshIndex
  *     bands analog): narrow, map-local, candidate generation's own
  *     honest O(resident-metadata) read. Legacy two-column (probe,
  *     doc_id) layouts remain supported: the gate falls back to a
  *     size-guarded join back to `hashes`, and appends keep the legacy
  *     schema; interim bucketed layouts read fine and fold back to flat
  *     at compact.
  *
  * Gate per batch: id disjointness (fails the call), within-batch
  * identical hash keeps min-id (`batch_dup`), probe-join + exact Hamming
  * against residents (`near_dup`) — the three run concurrently and each
  * doc takes its highest-priority verdict — then survivors append
  * (`ingested`); payloads the wrapper's decoder could not judge pass
  * through as `undecodable`. Single-writer per index path.
  */
private[graft] object Hash64Index {

  def flipsOf(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val flips = (0 until 64).map { i =>
      concat(substring(c, 1, i),
        when(substring(c, i + 1, 1) === "1", lit("0")).otherwise(lit("1")),
        substring(c, i + 2, 63 - i))
    }
    array((c +: flips): _*)
  }

  def hamming(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    def half(c: org.apache.spark.sql.Column, off: Int) =
      conv(substring(c, off, 32), 2, 10).cast("long")
    (bit_count(half(a, 1).bitwiseXOR(half(b, 1))) +
      bit_count(half(a, 33).bitwiseXOR(half(b, 33)))).cast("int")
  }

  /** Create the index from the initial corpus's hash table (one row per
    * decodable doc: doc_id, `hashCol`, any extra columns to persist).
    *
    * The probes table CARRIES the resident hash (`r_hash`) alongside each
    * probe row (r12): the gate's Hamming filter then runs directly on the
    * probe-join output — no second corpus-sized join back to `hashes`, no
    * candidate-derived intermediate to checkpoint and size-guard. Storage
    * trade: ~2× the probes table width (two 64-char strings per row vs
    * one) for strictly fewer per-batch jobs — metadata tables are dwarfed
    * by the media payloads they index. Legacy two-column layouts stay
    * readable: the gate falls back to the join form when `r_hash` is
    * absent (the winnow missing-table precedent), and appends then keep
    * the LEGACY schema — mixing widths inside one parquet directory would
    * leave new rows' hashes invisible to non-merging readers.
    */
  def build(spark: SparkSession, hashes: DataFrame, hashCol: String,
      path: String): Unit = {
    import graft.sources.KeyedSidecar
    val h = hashes.localCheckpoint(true)
    // probes write FLAT at every size (r13 measured): the gate probes
    // with the batch's 65-flip family — batch×65 keys always exceed the
    // parquet OR-of-eq pushdown cap, so a key-bucketed probes layout can
    // never point-prune and only adds write/commit overhead (the probe
    // run that keyed probes by `probe` made every perceptual gate SLOWER
    // at 100× residents than this plain scan). The probes table is the
    // mm family's band-candidate table: candidate generation's own
    // O(resident-metadata) consultation, narrow and map-local.
    // Both writes derive from the checkpoint and a fresh build has no
    // append-ordering contract — they overlap (guide §2.6).
    graft.sources.ConcurrentJobs.run(Seq(
      () => KeyedSidecar.write(h, "doc_id", s"$path/hashes", SaveMode.Overwrite),
      () => h.select(explode(flipsOf(col(hashCol))).as("probe"), col("doc_id"),
          col(hashCol).as("r_hash"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/probes")))
  }

  /** Logical point deletes (takedowns) on the shared
    * [[graft.sources.IndexLifecycle]] contract: resident matching
    * anti-joins the log immediately, while the id gate still sees the
    * tombstoned row. `hashes` (the id gate) compacts LAST, by the keyed
    * sidecar rule; probes stay FLAT at every size (a key-bucketed probes
    * layout can never point-prune — see the build note): their dirty
    * files rewrite in place, and an interim bucketed probes table folds
    * back to flat whole.
    */
  private[graft] val Lifecycle = IndexLifecycle("doc_id", IndexLifecycle.Inside, Seq(
    IndexLifecycle.Table("probes", (spark, table) =>
      if (!graft.sources.KeyedSidecar.isBucketed(spark, table))
        IndexLifecycle.DirtyFiles(smallPages = false)
      else IndexLifecycle.Relayout((kept, fresh) => kept.drop(graft.sources.KeyedSidecar.BucketCol)
        .write.mode(SaveMode.ErrorIfExists).parquet(fresh))),
    IndexLifecycle.Table("hashes", IndexLifecycle.keyed("doc_id"))))

  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Lifecycle.delete(spark, path, ids)

  def compact(spark: SparkSession, path: String): Unit =
    Lifecycle.compact(spark, path)

  /** The gate. `batchIds` is every offered doc_id (one row per id);
    * `batchHashes` the wrapper-decoded hash table over the same batch
    * (ids absent here verdict as `undecodable`). Returns
    * (doc_id, verdict); survivors are appended and visible to the NEXT
    * call.
    *
    * Shape: the ids, the decoded hashes and every tier result stay on the
    * driver ([[graft.sources.LocalFrame]] — a delivery is bounded by
    * contract). The id check, the within-batch tier and the probe tier are
    * independent reads, so they run as one
    * [[graft.sources.ConcurrentJobs]] group with the id check first (its
    * error wins); verdicts then resolve per doc on the driver —
    * `undecodable`, then `batch_dup`, then `near_dup`
    * ([[graft.sources.GateBatch.verdicts]]). The appends start after the
    * group, `hashes` (the id gate) first.
    */
  def dedupIngest(spark: SparkSession, path: String, batchIds: DataFrame,
      batchHashes: DataFrame, hashCol: String, maxHamming: Int): DataFrame = {
    import graft.sources.{ConcurrentJobs, GateBatch, KeyedSidecar, LocalFrame}
    require(maxHamming >= 0 && maxHamming <= 2,
      "the persisted probe family covers Hamming radius ≤ 2")
    Lifecycle.recover(spark, path)
    val hashesPath = new org.apache.hadoop.fs.Path(s"$path/hashes")
    val fs = hashesPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(hashesPath),
      s"no hash index at $path — build(...) it before dedupIngest")
    val ids = LocalFrame(batchIds.select(col("doc_id")))
    // One row per doc_id, enforced (the VersionedStore.upsert contract):
    // duplicated ids inside one batch would evade the batch_dup tier and
    // burn the id twice into the authority table. Fail fast — on the
    // driver, the ids are already there.
    val offered = ids.collect().map(_.get(0))
    val dupId = offered.groupBy(identity).collectFirst {
      case (id, copies) if copies.length > 1 => id
    }
    require(dupId.isEmpty,
      s"ingest batch carries duplicate doc_id ${dupId.orNull}" +
        " — collapse to one row per key before dedupIngest")
    val bHashes = LocalFrame(batchHashes)
    val decoded = bHashes.select(col("doc_id")).collect().map(_.get(0)).toSet
    val undecodable = offered.filterNot(decoded).toSet
    // tombstoned residents stop vetoing offers; the id clash gate still
    // reads them raw (deleted ids stay burned until compact).
    // The probes read is a PLAIN scan by design (r13 measured): the
    // batch's 65-flip probe family always exceeds the parquet OR-of-eq
    // pushdown cap, so key-literal pruning can never skip pages here —
    // this narrow table is the mm family's band-candidate consultation.
    // Legacy bucketed layouts (the interim r13 cut) read fine; the
    // partition column drops like lookup would.
    val probes = Lifecycle.dropTombstoned(spark, path,
      Parquet.read(spark, s"$path/probes")
        .drop(KeyedSidecar.BucketCol))
    val probesCarryHash = probes.columns.contains("r_hash")
    val Seq(_, losers, nearDups) = ConcurrentJobs.run[Set[Any]](Seq(
      () => {
        // Resident-side streamed (the r11 LshIndex.dedupBatch inversion):
        // the batch is bounded by contract and BROADCASTS; with the batch
        // on the left of a semi-join the corpus-sized hash table would sit
        // on the build side. Since r13 the hashes table is doc_id-keyed,
        // so the gate read point-prunes to the batch's id buckets/pages on
        // big corpora (the semi-join enforces the restriction on
        // small/legacy fallbacks).
        val clash = KeyedSidecar.lookup(spark, s"$path/hashes", "doc_id", ids)
          .select(col("doc_id"))
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .limit(5).collect()
        require(clash.isEmpty,
          s"batch doc_ids collide with resident ids (e.g. ${clash.map(_.get(0)).mkString(", ")}): " +
            "ingest requires batch ids disjoint from the resident corpus")
        Set.empty[Any]
      },
      () => GateBatch.losers(bHashes, "doc_id", col(hashCol)),
      () => {
        // Probe tier, resident-streamed: the exploded batch side (batch ×
        // 65 probes) is contract-bounded and broadcasts, so the
        // corpus-sized probes table scans map-locally. On a hash-carrying
        // layout (see [[build]]) the Hamming filter runs RIGHT ON the
        // probe-join output — one map-local pass, nothing
        // candidate-derived to materialize.
        val exploded = broadcast(bHashes
          .select(col("doc_id"), col(hashCol), explode(flipsOf(col(hashCol))).as("probe")))
        val hamMatched =
          if (probesCarryHash)
            exploded.join(probes.select(col("probe"), col("r_hash")), "probe")
          else {
            // Legacy layout fallback (probes lack r_hash): fetch hashes via
            // a second join. The HIT set is candidate-derived — NOT
            // batch-bounded in the adversarial case (one hot probe key
            // shared with many residents multiplies rows) — so it
            // checkpoints and its broadcast is SIZE-GUARDED (the LshIndex
            // candShingled convention): rows are fixed-width (two int64
            // ids + the 64-char hash ≈ 150 B incl. object overhead), so
            // rows × width is an honest byte measure; past the cap the
            // join distributes — slower, never an OOM cliff.
            val hits = exploded
              .join(probes.select(col("probe"), col("doc_id").as("r_doc_id")), "probe")
              .select(col("doc_id"), col(hashCol), col("r_doc_id"))
              .localCheckpoint(true)
            val hitsSmall = hits.count() * HitRowBytes <= MaxHitBroadcastBytes
            val hitsSide = if (hitsSmall) broadcast(hits) else hits
            hitsSide.join(Parquet.read(spark, s"$path/hashes").select(
              col("doc_id").as("r_doc_id"), col(hashCol).as("r_hash")), "r_doc_id")
          }
        hamMatched
          .filter(hamming(col(hashCol), col("r_hash")) <= maxHamming)
          .select(col("doc_id")).distinct()
          .collect().map(_.get(0)).toSet
      }))
    val keep = GateBatch.survivors(bHashes, "doc_id", losers ++ nearDups)
    // appends in the LAYOUT's schema AND shape (KeyedSidecar.write follows
    // the resident layout on Append — bucketed extends bucketed, flat
    // extends flat); legacy probes keep two columns (widening in place
    // would leave new rows' r_hash invisible to non-merging readers).
    // One file per table: the survivors are a local frame.
    KeyedSidecar.write(keep.coalesce(1), "doc_id", s"$path/hashes", SaveMode.Append)
    val probeRows =
      if (probesCarryHash)
        keep.select(explode(flipsOf(col(hashCol))).as("probe"), col("doc_id"),
          col(hashCol).as("r_hash"))
      else keep.select(explode(flipsOf(col(hashCol))).as("probe"), col("doc_id"))
    KeyedSidecar.write(probeRows.coalesce(1), "probe", s"$path/probes", SaveMode.Append)
    GateBatch.verdicts(ids, Seq("undecodable" -> undecodable, "batch_dup" -> losers,
      "near_dup" -> nearDups))
  }

  /** Estimated bytes per probe-hit row: two int64 ids + the 64-char hash
    * string + object headers — fixed-width, so rows × this is an honest
    * size measure for the broadcast guard.
    */
  private val HitRowBytes = 150L

  /** Broadcast cap for the candidate-derived probe-hit side (the
    * LshIndex.MaxGateBroadcastBytes rationale — explicit hints bypass
    * autoBroadcastJoinThreshold, so the guard is the OOM backstop).
    */
  private val MaxHitBroadcastBytes = 128L * 1024 * 1024
}

/** Persisted perceptual ingest gate for the AUDIO modality — the fourth
  * member of the ingest-gate family (text: `LshIndex.ingestBatch`,
  * vectors: `IvfIndex.dedupIngest`, images: [[PhashIndex]]): a crawl
  * keeps re-delivering the same recording re-mastered (new container
  * layout, channel duplication), byte-different but signal-identical —
  * the [[Multimodal.audioHashBits]] fingerprint collides at Hamming 0 for
  * those and within the radius for lightly perturbed signals. All
  * mechanics ride [[Hash64Index]].
  */
object AudioHashIndex {

  private def hashTable(media: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) =
    Multimodal.audioHashes(media).toDF()
      .select(col("doc_id"), col("hash"), col("sample_rate"), col("channels"),
        col("n_samples"))

  def build(spark: SparkSession, media: org.apache.spark.sql.Dataset[Multimodal.MediaRow],
      path: String): Unit =
    Hash64Index.build(spark, hashTable(media), "hash", path)

  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Hash64Index.delete(spark, path, ids)

  def compact(spark: SparkSession, path: String): Unit =
    Hash64Index.compact(spark, path)

  def dedupIngest(spark: SparkSession, path: String,
      batch: org.apache.spark.sql.Dataset[Multimodal.MediaRow],
      maxHamming: Int = 2): DataFrame =
    Hash64Index.dedupIngest(spark, path, batch.toDF().select(col("doc_id")),
      hashTable(batch), "hash", maxHamming)
}

/** Persisted perceptual ingest gate for the VIDEO modality — the fifth
  * member of the ingest-gate family: a crawl re-delivers the same clip
  * re-containered (8 vs 24-bit DIB, flipped row order, injected chunks),
  * byte-different but frame-identical — the [[Multimodal.videoHashBits]]
  * spatio-temporal fingerprint collides at Hamming 0 for those and within
  * the radius for lightly perturbed content. All mechanics ride
  * [[Hash64Index]]; this wrapper owns only the AVI decode → fingerprint
  * derivation.
  */
object VideoHashIndex {

  private def hashTable(media: org.apache.spark.sql.Dataset[Multimodal.MediaRow]) =
    Multimodal.videoHashes(media).toDF()
      .select(col("doc_id"), col("hash"), col("width"), col("height"),
        col("n_frames"))

  def build(spark: SparkSession, media: org.apache.spark.sql.Dataset[Multimodal.MediaRow],
      path: String): Unit =
    Hash64Index.build(spark, hashTable(media), "hash", path)

  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit =
    Hash64Index.delete(spark, path, ids)

  def compact(spark: SparkSession, path: String): Unit =
    Hash64Index.compact(spark, path)

  def dedupIngest(spark: SparkSession, path: String,
      batch: org.apache.spark.sql.Dataset[Multimodal.MediaRow],
      maxHamming: Int = 2): DataFrame =
    Hash64Index.dedupIngest(spark, path, batch.toDF().select(col("doc_id")),
      hashTable(batch), "hash", maxHamming)
}
