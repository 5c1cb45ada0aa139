package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.{FileSystem, Path}
import java.net.URI

/** Versioned bucketed snapshot — the [[SnapshotStore]] IO shape (hash-bucket
  * partitioning, dirty-bucket-only upserts) lifted to IMMUTABLE files plus an
  * atomic manifest commit, i.e. the Iceberg/Delta idea reduced to exactly what
  * the corpus pipeline needs:
  *
  *   - each commit writes its rows ONCE, into a fresh uniquely-named data
  *     directory (`files/v<N>-<nonce>/bucket=B/`) that is never rewritten or
  *     appended, so a reader can never observe a half-replaced bucket (the
  *     documented race in [[SnapshotStore]]'s dynamic-overwrite design), and
  *     a writer that dies between data write and commit leaves only an
  *     unreferenced directory for `vacuum` to collect — never a wedged
  *     version number;
  *   - a manifest `manifests/v<N>.json` maps every live bucket to the data
  *     directory currently serving it — an upsert's manifest repoints only
  *     the DIRTY buckets and inherits every clean bucket's entry unchanged,
  *     so write amplification stays O(dirty share), exactly as before;
  *   - the commit is ONE atomic rename of the manifest into place. Rename
  *     refuses an existing destination, so of two committers racing from the
  *     same base exactly one wins; the loser gets a
  *     [[CommitConflictException]], deletes its own (uniquely named, still
  *     unreferenced) data directory, and must re-read and retry — optimistic
  *     concurrency, the Delta protocol's core move, REPLACING the mutable
  *     store's single-writer-by-contract caveat with an enforced protocol;
  *   - readers resolve a manifest first (latest, or any retained version for
  *     time travel) and read exactly the directories it lists — snapshot
  *     isolation for free, because those directories are immutable.
  *
  * At 100 TB: the manifest is O(nBuckets) driver-side JSON (4096 entries ≈
  * 100 KB — the same bounded-artifact class as the IVF centroid sidecar);
  * data IO per upsert is unchanged from [[SnapshotStore]]; `compact()`
  * bounds manifest fragmentation (the number of distinct data directories a
  * read must touch) and `vacuum()` bounds storage growth — with an age
  * guard so it cannot collect a directory an in-flight committer just wrote
  * (the Delta VACUUM retention rule). No table-format dependency — plain
  * parquet + one JSON file per version, readable by ANY engine that can
  * follow the manifest.
  */
object VersionedStore {

  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  private def fs(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)

  private def withBucket(df: DataFrame, nBuckets: Int): DataFrame =
    df.withColumn("bucket", pmod(hash(col("doc_id")), lit(nBuckets)))

  // ---- manifest (hand-rolled fixed-shape JSON: {"version":N,"n_buckets":B,
  // ---- "writer":"<nonce>","owner":{"<bucket>":"<dataDir>",...}}) -----------
  // The writer nonce exists solely so the read-back commit verification can
  // tell two byte-identical owner maps from different committers apart.

  private def renderManifest(version: Long, nBuckets: Int,
      owner: Map[Int, String], writerNonce: String): String = {
    val entries = owner.toSeq.sortBy(_._1)
      .map { case (b, d) => s""""$b":"$d"""" }.mkString(",")
    s"""{"version":$version,"n_buckets":$nBuckets,"writer":"$writerNonce","owner":{$entries}}"""
  }

  private def parseManifest(s: String): (Long, Int, Map[Int, String]) = {
    def field(name: String): String = {
      val i = s.indexOf(s""""$name":""")
      require(i >= 0, s"manifest missing $name: $s")
      s.substring(i + name.length + 3).takeWhile(_.isDigit)
    }
    val version = field("version").toLong
    val nBuckets = field("n_buckets").toInt
    val start = s.indexOf("\"owner\":{") + 9
    val body = s.substring(start, s.indexOf("}", start))
    val owner = body.split(",").filter(_.nonEmpty).map { e =>
      val Array(k, v) = e.split(":")
      k.replace("\"", "").trim.toInt -> v.replace("\"", "").trim
    }.toMap
    (version, nBuckets, owner)
  }

  private def manifestPath(path: String, v: Long) =
    new Path(f"$path/manifests/v$v%08d.json")

  /** All committed versions, ascending. Driver-side metadata IO — rides
    * the transient-retry policy ([[RetryingIO]]): a throttled manifest
    * listing must not read as "no versions".
    */
  def versions(spark: SparkSession, path: String): Seq[Long] = {
    val dir = new Path(s"$path/manifests")
    val f = fs(spark, path)
    RetryingIO.withRetry(s"VersionedStore.versions($path)") {
      if (!f.exists(dir)) Seq.empty
      else f.listStatus(dir).map(_.getPath.getName)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => n.stripPrefix("v").stripSuffix(".json").toLong)
        .sorted.toSeq
    }
  }

  def currentVersion(spark: SparkSession, path: String): Long = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no committed version at $path")
    vs.last
  }

  private def readManifest(spark: SparkSession, path: String,
      v: Long): (Long, Int, Map[Int, String]) = {
    val f = fs(spark, path)
    val p = manifestPath(path, v)
    require(f.exists(p), s"version $v not found at $path")
    val s = RetryingIO.withRetry(s"VersionedStore.readManifest($path, v$v)") {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in).mkString finally in.close()
    }
    parseManifest(s)
  }

  /** Atomically commit the manifest for version `v`. The temp-write + rename
    * is the commit step, but rename-refuses-existing-destination is an
    * HDFS-only contract: LocalFileSystem (rename(2)) and S3A silently
    * REPLACE an existing destination and report success, so the
    * exists()-then-rename sequence alone would let two racing committers
    * both "succeed". The protocol therefore verifies the commit by reading
    * the destination back: each manifest carries a per-writer nonce, and a
    * committer wins iff the bytes now at the destination are exactly the
    * bytes it wrote. Whatever the filesystem's replace semantics, the
    * destination holds exactly one writer's manifest — that writer wins,
    * every other committer observes foreign bytes and gets the conflict.
    * (Residual window on replace-semantics filesystems: a racer whose
    * exists() ran before the winner's rename AND whose own rename lands
    * after the winner's read-back replaces the winner silently. On HDFS
    * rename is atomically no-overwrite and the protocol is exact; on local
    * and object stores the window is the microseconds between read-back
    * and a concurrent in-flight rename, vs the whole data-write duration
    * before this fix.)
    */
  private def commit(spark: SparkSession, path: String, v: Long,
      nBuckets: Int, owner: Map[Int, String]): Unit = {
    val f = fs(spark, path)
    f.mkdirs(new Path(s"$path/manifests"))
    val dst = manifestPath(path, v)
    if (f.exists(dst)) // fast-path; the read-back below is authoritative
      throw new CommitConflictException(
        s"version $v already committed at $path — re-read and retry")
    val mine = renderManifest(v, nBuckets, owner,
      f"${System.nanoTime()}%x-${Thread.currentThread().getId}%x")
    val tmp = new Path(s"$path/manifests/_tmp-$v-${System.nanoTime()}")
    val out = f.create(tmp, false)
    try out.write(mine.getBytes("UTF-8"))
    finally out.close()
    if (!f.rename(tmp, dst)) {
      f.delete(tmp, false)
      throw new CommitConflictException(
        s"concurrent commit of version $v at $path — re-read and retry")
    }
    val in = f.open(dst)
    val committed = try scala.io.Source.fromInputStream(in).mkString finally in.close()
    if (committed != mine)
      throw new CommitConflictException(
        s"lost commit race for version $v at $path — re-read and retry")
  }

  // ---- writes --------------------------------------------------------------

  /** Write `bucketed`'s rows into a FRESH uniquely-named data directory;
    * returns (dirName, buckets that produced rows). The nonce means no two
    * writers ever contend on a directory, and a crash after this write
    * leaves only vacuum-collectable garbage.
    */
  private def writeDataDir(spark: SparkSession, path: String, v: Long,
      bucketed: DataFrame): (String, Set[Int]) = {
    // name = v<version>-t<creation millis hex>-<nonce>: the embedded wall
    // clock is what vacuum() age-guards on — directory mtime is synthetic on
    // object stores and parquet task commits keep touching it on real ones
    val dirName = f"v$v%08d-t${System.currentTimeMillis()}%x-${System.nanoTime()}%x"
    // bucket-aligned repartition: one file per bucket instead of
    // tasks × buckets small files (the SnapshotStore.init rationale; cap
    // file size at real scale with spark.sql.files.maxRecordsPerFile)
    bucketed.repartition(col("bucket"))
      .write.mode(SaveMode.ErrorIfExists).partitionBy("bucket")
      .parquet(s"$path/files/$dirName")
    val f = fs(spark, path)
    val present = f.listStatus(new Path(s"$path/files/$dirName"))
      .map(_.getPath.getName).filter(_.startsWith("bucket="))
      .map(_.stripPrefix("bucket=").toInt).toSet
    (dirName, present)
  }

  private def dropOwnDir(spark: SparkSession, path: String, dirName: String): Unit =
    fs(spark, path).delete(new Path(s"$path/files/$dirName"), true)

  /** Create version 1 from the initial corpus. */
  def init(spark: SparkSession, docs: DataFrame, path: String,
      nBuckets: Int = 64): Long = {
    require(nBuckets > 0, "nBuckets must be positive")
    val (dirName, present) = writeDataDir(spark, path, 1L, withBucket(docs, nBuckets))
    try commit(spark, path, 1L, nBuckets, present.map(_ -> dirName).toMap)
    catch { case e: CommitConflictException =>
      dropOwnDir(spark, path, dirName); throw e
    }
    1L
  }

  /** Apply upserts + deletes on top of `expected` (default: latest),
    * committing `expected + 1`. Reads and rewrites ONLY dirty buckets;
    * clean buckets' manifest entries carry over untouched. Throws
    * [[CommitConflictException]] if someone else committed first — the
    * caller re-reads and retries (its merge must be recomputed against the
    * new state, so the data directory written here is deleted: it is
    * uniquely this writer's and referenced by nothing).
    */
  def upsert(spark: SparkSession, path: String, upserts: DataFrame,
      deletes: DataFrame, expected: Option[Long] = None): Long = {
    val base = expected.getOrElse(currentVersion(spark, path))
    val (_, nBuckets, owner) = readManifest(spark, path, base)
    val next = base + 1L
    // fail fast (and before any data IO) if the base is already stale; the
    // rename in commit() remains the authoritative check
    if (fs(spark, path).exists(manifestPath(path, next)))
      throw new CommitConflictException(
        s"version $next already committed at $path — re-read and retry")
    val up = withBucket(upserts, nBuckets).localCheckpoint(true)
    // One row per doc_id, enforced: two same-id rows in one batch would both
    // survive the left_anti merge and duplicate the key forever (every later
    // merge propagates both). Callers with multi-change batches collapse
    // last-wins first (versionedCdc does); a silent collapse here would have
    // to invent an order, so ambiguity fails fast instead.
    val dupId = up.groupBy(col("doc_id")).count()
      .filter(col("count") > 1).limit(1).collect()
    require(dupId.isEmpty,
      s"upserts batch carries duplicate doc_id ${dupId.headOption.map(_.get(0)).orNull}" +
        " — collapse to one row per key (last-wins) before upsert")
    val del = withBucket(deletes.select(col("doc_id")), nBuckets)
      .localCheckpoint(true)
    val dirty = (up.select(col("bucket")).distinct().collect() ++
      del.select(col("bucket")).distinct().collect())
      .map(_.getInt(0)).distinct.toSet
    if (dirty.isEmpty) { commit(spark, path, next, nBuckets, owner); return next }
    val upClean = up.join(del.select(col("doc_id")), Seq("doc_id"), "left_anti")
    val dirtyOwner = owner.filter(e => dirty(e._1))
    // dirty buckets with no resident files yet (all-new ids): nothing to merge
    val merged = if (dirtyOwner.isEmpty) upClean else {
      val resident = readBuckets(spark, path, dirtyOwner)
      val touched = up.select(col("doc_id")).union(del.select(col("doc_id")))
      val kept = resident.join(touched, Seq("doc_id"), "left_anti")
      kept.unionByName(upClean.select(kept.columns.map(col).toSeq: _*))
    }
    // immutable-version write: no read-before-overwrite barrier needed —
    // the directories being read (owners) and written (fresh nonce dir)
    // are disjoint by construction.
    val (dirName, present) = writeDataDir(spark, path, next, merged)
    val newOwner = (owner -- dirty) ++ present.map(_ -> dirName)
    try commit(spark, path, next, nBuckets, newOwner)
    catch { case e: CommitConflictException =>
      dropOwnDir(spark, path, dirName); throw e
    }
    next
  }

  /** Rewrite every live bucket into one fresh data directory — bounds the
    * number of distinct directories a read touches (manifest
    * defragmentation; the Iceberg "rewrite data files" maintenance action).
    * Content is unchanged, so this is safe to run any time.
    */
  def compact(spark: SparkSession, path: String): Long = {
    val base = currentVersion(spark, path)
    val (_, nBuckets, owner) = readManifest(spark, path, base)
    val next = base + 1L
    val (dirName, present) = writeDataDir(spark, path, next,
      readBuckets(spark, path, owner))
    try commit(spark, path, next, nBuckets, present.map(_ -> dirName).toMap)
    catch { case e: CommitConflictException =>
      dropOwnDir(spark, path, dirName); throw e
    }
    next
  }

  /** Drop manifests older than the latest `retainVersions` (bounding how far
    * back time travel reaches), then delete every data directory referenced
    * by NO retained manifest — which also collects directories orphaned by
    * writers that died before committing. `olderThanMs` is the safety
    * window: a directory younger than it is NEVER deleted, because it may
    * belong to an in-flight commit that has written data but not yet
    * renamed its manifest (the Delta VACUUM retention rule; default 24 h —
    * tests pass 0 for immediacy). Age comes from the creation timestamp
    * embedded in the directory NAME (a protocol property), not filesystem
    * mtime (synthetic on object stores, writer-task-dependent on real
    * ones); legacy nameless-timestamp directories fall back to mtime.
    */
  def vacuum(spark: SparkSession, path: String, retainVersions: Int = 7,
      olderThanMs: Long = 24L * 3600 * 1000): Unit = {
    require(retainVersions >= 1, "must retain at least the current version")
    val f = fs(spark, path)
    val vs = versions(spark, path)
    val retained = vs.takeRight(retainVersions)
    val live: Set[String] = retained
      .flatMap(v => readManifest(spark, path, v)._3.values).toSet
    vs.dropRight(retainVersions)
      .foreach(v => f.delete(manifestPath(path, v), false))
    val filesDir = new Path(s"$path/files")
    val cutoff = System.currentTimeMillis() - olderThanMs
    def createdAt(st: org.apache.hadoop.fs.FileStatus): Long =
      st.getPath.getName.split("-").find(_.startsWith("t"))
        .flatMap(t => scala.util.Try(java.lang.Long.parseLong(t.tail, 16)).toOption)
        .getOrElse(st.getModificationTime)
    if (f.exists(filesDir)) f.listStatus(filesDir)
      .filter(st => !live(st.getPath.getName) && createdAt(st) <= cutoff)
      .foreach(st => f.delete(st.getPath, true))
  }

  // ---- reads ---------------------------------------------------------------

  /** Assemble the rows a manifest describes: one pruned read per distinct
    * owning directory (buckets grouped so the plan stays a bounded union —
    * `compact` keeps that bound small), bucket column restored from the
    * directory layout via basePath.
    */
  private def readBuckets(spark: SparkSession, path: String,
      owner: Map[Int, String]): DataFrame = {
    require(owner.nonEmpty, "empty snapshot")
    owner.groupBy(_._2).toSeq.sortBy(_._1).map { case (d, entries) =>
      Parquet.readUnder(spark, s"$path/files/$d",
        entries.keys.toSeq.sorted.map(b => s"$path/files/$d/bucket=$b"))
    }.reduce(_ unionByName _)
  }

  /** Read a snapshot version (default: latest) — time travel is just naming
    * an older retained version. A version whose every row was deleted has
    * an empty owner map and no schema on disk to serve; reading it is an
    * error by contract (store a schema sidecar if empty snapshots must be
    * readable).
    */
  def read(spark: SparkSession, path: String, asOf: Option[Long] = None): DataFrame = {
    val v = asOf.getOrElse(currentVersion(spark, path))
    val (_, _, owner) = readManifest(spark, path, v)
    if (owner.isEmpty)
      throw new IllegalStateException(s"version $v has no live buckets")
    readBuckets(spark, path, owner).drop("bucket")
  }
}
