package graft

import java.nio.file.{Files, Path => JPath, StandardCopyOption}
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{IndexLifecycle, Parquet}

/** `compact` crashed at every write boundary, for the LSH, IVF, pHash,
  * inverted and flat vector indexes. The boundaries are counted, not
  * picked: an uninterrupted compact runs once on [[CrashFs]] to count them
  * (every mutating filesystem call outside a staging directory, plus one
  * crash inside each staged write); then for every k a fresh copy of the
  * same index (deletes logged, not compacted) is compacted with a crash at
  * the k-th. At the crashed state — after `recover`, run by a public read — and
  * again after a retried compact:
  *   - each table's rows, as a multiset, are the uninterrupted run's before
  *     or after compaction (after the retry: after), so no row is lost or
  *     doubled;
  *   - no tombstoned id is visible: while the log is gone every table is
  *     compacted;
  *   - a replayed batch gets the uninterrupted run's verdicts.
  * A table is read as its index reads it: the flat index's root table with
  * partition discovery, so a stray partition directory at any crash point
  * fails the comparison. A log kept beside the root counts as part of the
  * index: it is copied with it and its drop is a boundary.
  * The crash runs share one pool of four threads, each under its own root.
  */
class CompactCrashSpec extends SparkSpec {
  import CompactCrashSpec._

  private lazy val root: JPath = {
    CrashFs.install(spark)
    Files.createTempDirectory("graft-crash")
  }

  /** One index family: its lifecycle, builder, compaction, and a replay
    * whose verdicts (as strings) must not depend on compaction. The replay
    * may append; it always runs on a copy, and rows under `replayIds`
    * are left out of the table comparison.
    */
  private final case class Family(name: String, lc: IndexLifecycle,
      build: String => Unit, compact: String => Unit, replay: String => Set[String],
      replayIds: Set[Long], deleted: Set[Long])

  private def lsh: Family = {
    import graft.text.LshIndex
    val docs = Tables.documents(spark, sf).orderBy("doc_id").limit(20)
      .select(col("doc_id"), col("text")).localCheckpoint(true)
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val deleted = Set(all(3), all(11))
    // verbatim copies of two residents and of a deleted doc, under fresh ids
    val batch = docs.filter(col("doc_id").isin(all(5), all(8), all(3)))
      .select((col("doc_id") + 7000000L).as("doc_id"), col("text")).localCheckpoint(true)
    Family("lsh", LshIndex.Lifecycle,
      dir => { LshIndex.build(spark, docs, dir); LshIndex.delete(spark, dir, ids(deleted)) },
      LshIndex.compact(spark, _),
      dir => LshIndex.dedupBatch(spark, dir, batch).collect()
        .map(r => s"${r.getLong(0)}~${r.getLong(1)}").toSet,
      Set.empty, deleted)
  }

  private def ivf: Family = {
    import graft.vector.IvfIndex
    val emb = Tables.embeddings(spark, sf).orderBy("vec_id").limit(200).localCheckpoint(true)
    val deleted = Set(4L, 57L, 130L)
    val batch = emb.filter(col("vec_id").isin(9L, 88L, 57L))
      .select((col("vec_id") + 7000000L).as("vec_id"), col("embedding"), col("label"))
      .localCheckpoint(true)
    Family("ivf", IvfIndex.Lifecycle,
      dir => {
        IvfIndex.build(spark, emb, dir, nCells = 4, kmeansIters = 0)
        IvfIndex.delete(spark, dir, ids(deleted, "vec_id"))
      },
      IvfIndex.compact(spark, _),
      dir => IvfIndex.dedupIngest(spark, dir, batch).collect()
        .map(r => s"${r.getLong(0)}:${r.getString(1)}").toSet,
      Set(7000009L, 7000088L, 7000057L), deleted)
  }

  private def phash: Family = {
    import graft.multimodal.{Hash64Index, Multimodal, PhashIndex, PngCodec}
    import spark.implicits._
    def png(src: Long): Array[Byte] =
      PngCodec.encodeGray(Array.tabulate(1024) { p =>
        var h = src * 1000003L + p
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
        (h & 0xFF).toInt
      }, 32, 32)
    val media = (0L until 10L).map(i => Multimodal.MediaRow(i, "image", png(i)))
    val deleted = Set(3L, 6L)
    val batch = Seq(2L, 3L, 50L).map(i => Multimodal.MediaRow(100L + i, "image", png(i)))
    Family("phash", Hash64Index.Lifecycle,
      dir => { PhashIndex.build(spark, media.toDS(), dir); PhashIndex.delete(spark, dir, ids(deleted)) },
      PhashIndex.compact(spark, _),
      dir => PhashIndex.dedupIngest(spark, dir, batch.toDS()).collect()
        .map(r => s"${r.getLong(0)}:${r.getString(1)}").toSet,
      Set(102L, 103L, 150L), deleted)
  }

  private def inverted: Family = {
    import graft.text.InvertedIndex
    val docs = Tables.documents(spark, sf).orderBy("doc_id").limit(30).localCheckpoint(true)
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val deleted = Set(all(2), all(17))
    val terms = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").count().orderBy(desc("count"), col("w")).limit(2)
      .collect().map(_.getString(0)).toSeq
    Family("inverted", InvertedIndex.Lifecycle,
      dir => {
        InvertedIndex.build(spark, docs, dir, nBuckets = 4)
        InvertedIndex.delete(spark, dir, ids(deleted))
      },
      InvertedIndex.compact(spark, _),
      dir => {
        // the ranking the index serves, and a replay of a resident doc,
        // which the append id gate refuses before writing anything
        val ranked = terms.map(t => InvertedIndex.bm25(spark, dir, Seq(t), k = 10).collect()
          .map(r => s"$t:${r.getLong(0)}:${r.getDouble(2)}").mkString(",")).toSet
        val replay = scala.util.Try(InvertedIndex.appendBatch(spark,
          docs.filter(col("doc_id") === all(5)), dir))
        ranked + s"replay refused: ${replay.isFailure}"
      },
      Set.empty, deleted)
  }

  private def flat: Family = {
    import graft.vector.{HashingEmbedder, IndexPipeline, VectorIndex}
    val embedder = new HashingEmbedder()
    val docs = Tables.documents(spark, sf).filter(col("text").isNotNull).orderBy("doc_id")
      .limit(36).select(col("doc_id"), col("text")).localCheckpoint(true)
    val all = docs.select("doc_id").collect().map(_.getLong(0)).toSeq
    val texts = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // six appends of six docs: two files on each day; a clean file stays
    // in each of the first two dirty days, and the newest day mixes
    // columns (its second file has an `extras` column), both its files
    // dirty, so the compaction stages one write per column set
    def page(i: Int, day: Int): DataFrame = {
      val rows = docs.filter(col("doc_id").isin(all.slice(6 * i, 6 * i + 6): _*))
        .select(col("doc_id").as("vec_id"), embedder.embedCol(col("text")).as("embedding"),
          lit("doc").as("data_type"), to_json(struct(col("doc_id"), col("text"))).as("data_json"),
          lit(java.sql.Date.valueOf(s"2024-03-0$day")).as("ingest_date"))
      (if (i == 5) rows.withColumn("extras", concat(lit("x"), col("vec_id"))) else rows)
        .coalesce(1)
    }
    val deleted = Set(all(1), all(13), all(25), all(31))
    val probes = Seq(texts(all(1)), texts(all(8)), texts(all(25)), texts(all(33)),
      "spark table index")
    Family("flat", VectorIndex.Lifecycle,
      dir => {
        Seq(0 -> 1, 1 -> 1, 2 -> 2, 3 -> 2, 4 -> 3, 5 -> 3).foreach { case (i, d) =>
          VectorIndex.append(page(i, d), dir) }
        VectorIndex.delete(spark, dir, ids(deleted, "vec_id"))
      },
      VectorIndex.compact(spark, _),
      // the search tool's top-k: the scan while the log exists, the
      // resident window after compaction
      dir => probes.map(p => IndexPipeline.searchIndex(spark, dir, p, k = 5).toJSON.collect()
        .mkString(s"$p -> [", ",", "]")).toSet,
      Set.empty, deleted)
  }

  private def ids(xs: Set[Long], key: String = "doc_id"): DataFrame = {
    import spark.implicits._
    xs.toSeq.toDF(key)
  }

  /** Each present table's rows, as a multiset of JSON lines, without the
    * rows a replay appended; one job.
    */
  private def tableRows(f: Family, dir: String): Map[String, Map[String, Int]] = {
    val present = f.lc.tables.filter(t => Files.exists(local(t.dir(dir))))
    val got = present.map { t =>
      Parquet.read(spark, t.dir(dir)).filter(!col(f.lc.key).isin(f.replayIds.toSeq: _*))
        .select(lit(t.name).as("t"), to_json(struct(col("*"))).as("j"))
    }.reduce(_ union _).collect().groupBy(_.getString(0))
    present.map(_.name).map(t => t -> got.getOrElse(t, Array.empty[org.apache.spark.sql.Row])
      .groupBy(_.getString(1)).map { case (j, same) => j -> same.length }).toMap
  }

  /** The replay's verdicts on a copy of `dir`, and the copy's table rows
    * after it (its recovery included) when `rows`.
    */
  private def replayOnCopy(f: Family, dir: String,
      rows: Boolean): (Set[String], Map[String, Map[String, Int]]) = {
    val copy = copyOf(f, dir, s"${local(dir).getFileName}-replay")
    try {
      val v = f.replay(copy)
      (v, if (rows) tableRows(f, copy) else Map.empty)
    } finally deleteIndex(f, copy)
  }

  /** The paths a family's index at `dir` writes: its root, and its log
    * when that lives beside the root.
    */
  private def roots(f: Family, dir: String): Seq[String] = Seq(dir, f.lc.log(dir))

  private def deleteIndex(f: Family, dir: String): Unit =
    roots(f, dir).foreach(r => delete(local(r)))

  /** A plain file copy of the index at `dir` (its log included) next to it,
    * named `name`; Spark's in-flight task outputs (`_temporary`) are not
    * part of it.
    */
  private def copyOf(f: Family, dir: String, name: String): String = {
    val copy = CrashFs.path(local(dir).resolveSibling(name).toString)
    deleteIndex(f, copy)
    copyTree(local(dir), local(copy))
    if (!local(f.lc.log(dir)).startsWith(local(dir)))
      copyTree(local(f.lc.log(dir)), local(f.lc.log(copy)))
    copy
  }

  /** A family's index with its deletes logged, and the uninterrupted
    * compaction of a copy: its boundary count, rows before and after, and
    * the replay's verdicts.
    */
  private final case class Reference(f: Family, pristine: String, n: Int,
      before: Map[String, Map[String, Int]], after: Map[String, Map[String, Int]],
      verdicts: Set[String])

  private def reference(f: Family): Reference = {
    val base = Files.createDirectories(root.resolve(f.name))
    val pristine = CrashFs.path(base.resolve("pristine").toString)
    f.build(pristine)
    val before = tableRows(f, pristine)
    val ref = copyOf(f, pristine, "ref")
    CrashFs.arm(roots(f, ref), Int.MaxValue)
    f.compact(ref)
    val n = CrashFs.disarm(roots(f, ref))
    val after = tableRows(f, ref)
    val verdicts = replayOnCopy(f, ref, rows = false)._1
    assert(replayOnCopy(f, pristine, rows = false)._1 == verdicts,
      s"${f.name}: the replay must not depend on compaction")
    assert(before.keySet == after.keySet && before != after, s"${f.name}: compact changed nothing")
    f.lc.tables.filter(t => after.contains(t.name)).foreach(t => assert(
      Parquet.read(spark, t.dir(ref)).filter(col(f.lc.key).isin(f.deleted.toSeq: _*)).count() == 0,
      s"${f.name}/${t.name} kept a deleted id"))
    assert(n >= 10, s"${f.name}: only $n boundaries counted")
    Reference(f, pristine, n, before, after, verdicts)
  }

  private def crashAt(r: Reference, k: Int): Unit = {
    val f = r.f
    val dir = copyOf(f, r.pristine, s"k$k")
    CrashFs.arm(roots(f, dir), k)
    val crashed = scala.util.Try(f.compact(dir))
    CrashFs.disarm(roots(f, dir))
    val at = s"${f.name} crashed at $k/${r.n}"
    assert(crashed.isFailure, s"$at: no crash")
    // the crashed state, recovered by the replay's public read
    val (v1, r1) = replayOnCopy(f, dir, rows = true)
    assert(v1 == r.verdicts, s"$at: verdicts $v1 vs ${r.verdicts}")
    r1.foreach { case (t, rs) =>
      assert(rs == r.before(t) || rs == r.after(t), s"$at: $t is neither uncompacted nor compacted")
    }
    if (!Files.exists(local(f.lc.log(dir))))
      assert(r1 == r.after, s"$at: the log dropped before every table compacted")
    // the retry completes the compaction
    f.compact(dir)
    assert(!Files.exists(local(f.lc.log(dir))), s"$at: retry left the log")
    assert(tableRows(f, dir) == r.after, s"$at: retry rows differ from the uninterrupted run")
    val v2 = replayOnCopy(f, dir, rows = false)._1
    assert(v2 == r.verdicts, s"$at: verdicts after the retry $v2 vs ${r.verdicts}")
    val listed = Files.list(local(dir))
    val hidden = try listed.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".")).toList finally listed.close()
    assert(hidden.isEmpty, s"$at: retry left $hidden")
    deleteIndex(f, dir)
  }

  /** Every crash point of every family, on one pool. */
  private def crashEvery(families: => Seq[Family]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    // every injected crash is a failed task; keep its stack traces out of the log
    spark.sparkContext.setLogLevel("OFF")
    try {
      val refs = Await.result(Future.sequence(families.map(f => Future(reference(f)))), 10.minutes)
      // every (family, k) on one pool, interleaved so no family runs last alone
      val runs = refs.flatMap(r => (1 to r.n).map(k => (k, r))).sortBy(_._1)
      Await.result(Future.traverse(runs) { case (k, r) => Future(crashAt(r, k)) }, 20.minutes)
      info(refs.map(r => s"${r.f.name}: ${r.n} boundaries").mkString(", "))
    } finally {
      pool.shutdown()
      spark.sparkContext.setLogLevel("WARN")
      delete(root)
    }
  }

  test("compact survives a crash at every write boundary: LSH, IVF, pHash, inverted") {
    crashEvery(Seq(lsh, ivf, phash, inverted))
  }

  test("compact survives a crash at every write boundary: flat vector index") {
    crashEvery(Seq(flat))
  }
}

object CompactCrashSpec {
  private def local(dir: String): JPath =
    java.nio.file.Paths.get(new org.apache.hadoop.fs.Path(dir).toUri.getPath)

  private def copyTree(src: JPath, dst: JPath): Unit = if (Files.exists(src)) {
    val s = Files.walk(src)
    try s.iterator().asScala.toList.foreach { p =>
      val rel = src.relativize(p)
      if (!rel.iterator().asScala.exists(_.toString == "_temporary")) {
        val to = dst.resolve(rel.toString)
        try {
          if (Files.isDirectory(p)) Files.createDirectories(to)
          else Files.copy(p, to, StandardCopyOption.REPLACE_EXISTING)
        } catch { case _: java.nio.file.NoSuchFileException => () }
      }
    } finally s.close()
  }

  private def delete(p: JPath): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists) finally s.close()
    }
}
