package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SaveMode}
import org.apache.spark.sql.functions._
import graft.sources.{IndexLifecycle, KeyedSidecar, Parquet, ResidentFiles}
import graft.vector.IvfIndex

/** `compact` rewrites only the files that hold a deleted key: a rewritten
  * file depends on that file's rows alone, untouched files keep their
  * identity (so held files stay held), and only a layout change rewrites
  * a whole table.
  */
class DirtyCompactSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) = Files.createTempDirectory(tag).toString

  private lazy val emb = Tables.embeddings(spark, sf).cache()
  private lazy val query: Seq[Float] =
    emb.filter(col("vec_id") === 7L).select("embedding").as[Seq[Float]].head()

  /** Data files under `dir`: (path relative to `dir`) → (length, mtime). */
  private def dataFiles(dir: String): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".parquet"))
      .map(p => root.relativize(p).toString ->
        (Files.size(p), Files.getLastModifiedTime(p).toMillis)).toMap
    finally s.close()
  }

  private def copyTree(src: String, dst: String): Unit = {
    val (from, to) = (Paths.get(src), Paths.get(dst))
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { p =>
      val t = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally s.close()
  }

  /** A file's rows in file order. */
  private def fileRows(file: String): Seq[Row] =
    spark.read.parquet(file).collect().toSeq.map(r => Row.fromSeq(r.toSeq.map {
      case xs: scala.collection.Seq[_] => xs.toList
      case x => x
    }))

  test("a rewritten file depends only on its own rows, not on what read the index before") {
    val a = tmp("graft-dc-a") + "/ivf"
    IvfIndex.build(spark, emb, a, nCells = 8, kmeansIters = 1)
    val b = tmp("graft-dc-b") + "/ivf"
    copyTree(a, b)
    // one copy is searched first: the resident path and the probe scan
    IvfIndex.search(spark, a, query, 10, 8).collect()
    IvfIndex.delete(spark, a, Seq(3L).toDF("vec_id"))
    IvfIndex.search(spark, a, query, 10, 8).collect()
    IvfIndex.delete(spark, b, Seq(3L).toDF("vec_id"))
    def tables(dir: String) = Seq("vectors", "ids").flatMap(t =>
      dataFiles(s"$dir/$t").map { case (f, st) => s"$t/$f" -> st }).toMap
    val before = tables(a)
    Seq(a, b).foreach(IvfIndex.compact(spark, _))
    val (fa, fb) = (tables(a), tables(b))
    val (rewritten, rewrittenB) = (fa.keySet -- before.keySet, fb.keySet -- before.keySet)
    assert(rewritten.size == 2 && (before.keySet -- fa.keySet).size == 2,
      s"one vectors file and one ids file rewrite, got $rewritten")
    // pair each rewritten file with its twin by directory
    def byDir(files: Set[String]) = files.groupBy(f => Paths.get(f).getParent.toString)
    val (ra, rb) = (byDir(rewritten), byDir(rewrittenB))
    assert(ra.keySet == rb.keySet && ra.values.forall(_.size == 1) && rb.values.forall(_.size == 1))
    ra.foreach { case (d, fs) =>
      val (x, y) = (s"$a/${fs.head}", s"$b/${rb(d).head}")
      assert(fileRows(x) == fileRows(y), s"$d: the rewritten files' row sequences differ")
      assert(Files.size(Paths.get(x)) == Files.size(Paths.get(y)), s"$d: lengths differ")
    }
    // and the untouched files are the same files in both copies
    assert(fa.keySet -- rewritten == fb.keySet -- rewrittenB)
  }

  test("held files survive compaction: the first search reads only the rewritten files") {
    val dir = tmp("graft-dc-held") + "/ivf"
    IvfIndex.build(spark, emb, dir, nCells = 8, kmeansIters = 1)
    def search() = JobCounter(spark)(IvfIndex.search(spark, dir, query, 10, 8).collect())._2
    search()
    assert(search() == 0, "every file of the index is held")
    val vectors = s"$dir/vectors"
    val before = dataFiles(vectors)
    assert(before.size > 1)
    IvfIndex.delete(spark, dir, Seq(3L).toDF("vec_id"))
    IvfIndex.compact(spark, dir)
    val after = dataFiles(vectors)
    val gone = before.keySet -- after.keySet
    val fresh = after.keySet -- before.keySet
    assert(gone.size == 1 && fresh.size == 1, s"dirtied $gone, wrote $fresh")
    (before.keySet -- gone).foreach(f =>
      assert(after(f) == before(f), s"untouched $f changed (path, length, mtime)"))
    val held0 = ResidentFiles.bytesHeld
    assert(search() <= 1, "the first search after compact reads the rewritten file in one job")
    assert(ResidentFiles.bytesHeld - held0 <= fresh.toSeq.map(after(_)._1).sum,
      "the search re-read files it held")
    assert(search() == 0)
    assert(!IvfIndex.search(spark, dir, query, 1000, 8).collect().exists(_.getLong(0) == 3L))
  }

  /** A two-table lifecycle on `dir`: `t`, a keyed sidecar keyed by `id`, and
    * the gate `g`.
    */
  private def keyedLifecycle = IndexLifecycle("id", IndexLifecycle.Inside, Seq(
    IndexLifecycle.Table("t", IndexLifecycle.keyed("id")), IndexLifecycle.Table("g")))

  private def ids(path: String): Set[Long] =
    Parquet.read(spark, path).select("id").as[Long].collect().toSet

  test("a flat keyed sidecar appended past MinPruneBytes comes out bucketed") {
    val dir = tmp("graft-dc-up")
    val lc = keyedLifecycle
    KeyedSidecar.write((0L until 100L).map(i => (i, s"p$i")).toDF("id", "p"), "id",
      s"$dir/t", SaveMode.Overwrite)
    (0L until 100L).toDF("id").write.parquet(s"$dir/g")
    // a lookup caches the size; an append past the bound grows it there
    KeyedSidecar.lookup(spark, s"$dir/t", "id", Seq(1L).toDF("id")).count()
    KeyedSidecar.write((100L until 110L).map(i => (i, s"p$i")).toDF("id", "p"), "id",
      s"$dir/t", SaveMode.Append, estimatedBytes = Some(KeyedSidecar.MinPruneBytes))
    assert(!KeyedSidecar.isBucketed(spark, s"$dir/t"))
    lc.delete(spark, dir, Seq(5L, 105L).toDF("id"))
    lc.compact(spark, dir)
    assert(KeyedSidecar.isBucketed(spark, s"$dir/t"), "compaction upgrades the layout")
    assert(ids(s"$dir/t") == (0L until 110L).toSet -- Set(5L, 105L))
    assert(ids(s"$dir/g") == (0L until 100L).toSet - 5L)
    // bucketed files stay key-sorted with small pages through a later
    // dirty-file compaction
    lc.delete(spark, dir, Seq(7L).toDF("id"))
    lc.compact(spark, dir)
    assert(KeyedSidecar.isBucketed(spark, s"$dir/t"))
    dataFiles(s"$dir/t").keys.foreach { f =>
      val ks = spark.read.parquet(s"$dir/t/$f").select("id").as[Long].collect().toSeq
      assert(ks == ks.sorted, s"$f lost its key order")
    }
    assert(ids(s"$dir/t") == (0L until 110L).toSet -- Set(5L, 7L, 105L))
  }

  test("a bucketed Hash64 probes table comes out flat") {
    import graft.multimodal.{Hash64Index, Multimodal, PhashIndex, PngCodec}
    def png(src: Long): Array[Byte] = PngCodec.encodeGray(Array.tabulate(256) { p =>
      ((src * 7919L + p * 31L) % 256).toInt }, 16, 16)
    val dir = tmp("graft-dc-probes") + "/ph"
    PhashIndex.build(spark, (0L until 6L).map(i =>
      Multimodal.MediaRow(i, "image", png(i))).toDS(), dir)
    // an interim bucketed probes table
    val probes = Parquet.read(spark, s"$dir/probes").localCheckpoint(true)
    val rows = probes.count()
    KeyedSidecar.writeBucketed(probes, "probe", s"$dir/probes.b", SaveMode.ErrorIfExists)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$dir/probes"), true)
    fs.rename(new Path(s"$dir/probes.b"), new Path(s"$dir/probes"))
    assert(KeyedSidecar.isBucketed(spark, s"$dir/probes"))
    Hash64Index.delete(spark, dir, Seq(2L).toDF("doc_id"))
    Hash64Index.compact(spark, dir)
    assert(!KeyedSidecar.isBucketed(spark, s"$dir/probes"), "probes fold back to flat")
    val kept = Parquet.read(spark, s"$dir/probes")
    assert(!kept.columns.contains(KeyedSidecar.BucketCol))
    assert(kept.filter(col("doc_id") === 2L).count() == 0L && kept.count() < rows)
    assert(kept.count() == probes.filter(col("doc_id") =!= 2L).count())
  }

  test("a per-file commit invalidates the table's cached size") {
    val dir = tmp("graft-dc-size")
    val lc = keyedLifecycle
    KeyedSidecar.write((0L until 500L).map(i => (i, s"p$i")).toDF("id", "p"), "id",
      s"$dir/t", SaveMode.Overwrite)
    (0L until 500L).toDF("id").write.parquet(s"$dir/g")
    KeyedSidecar.lookup(spark, s"$dir/t", "id", Seq(1L).toDF("id")).count()
    assert(KeyedSidecar.cachedBytes(s"$dir/t").nonEmpty)
    lc.delete(spark, dir, Seq(1L).toDF("id"))
    lc.compact(spark, dir)
    assert(!KeyedSidecar.isBucketed(spark, s"$dir/t"), "a small flat table stays flat")
    assert(KeyedSidecar.cachedBytes(s"$dir/t").isEmpty, "the commit left a stale size")
    assert(KeyedSidecar.lookup(spark, s"$dir/t", "id", Seq(1L, 2L).toDF("id"), 0L)
      .select("id").as[Long].collect().toSeq == Seq(2L))
  }

  test("a session maxRecordsPerFile cap below a dirty file's rows loses no kept row") {
    val dir = tmp("graft-dc-cap")
    val lc = keyedLifecycle
    (0L until 500L).map(i => (i, s"p$i")).toDF("id", "p").coalesce(1).write.parquet(s"$dir/t")
    (0L until 500L).toDF("id").coalesce(1).write.parquet(s"$dir/g")
    lc.delete(spark, dir, Seq(1L).toDF("id"))
    val key = "spark.sql.files.maxRecordsPerFile"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, "10")
    try lc.compact(spark, dir)
    finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(ids(s"$dir/t") == (0L until 500L).toSet - 1L)
    assert(ids(s"$dir/g") == (0L until 500L).toSet - 1L)
    assert(dataFiles(s"$dir/t").size == 1 && dataFiles(s"$dir/g").size == 1,
      "each dirty file has one replacement")
  }

  test("a dirty file with no kept rows leaves no file, unless its table would hold none") {
    val dir = tmp("graft-dc-empty")
    val lc = keyedLifecycle
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // t: a.parquet (ids 0..9) and b.parquet (ids 10..19); a sorts first,
    // so its (empty) replacement is the part Spark always writes
    Seq("a" -> (0L until 10L), "b" -> (10L until 20L)).foreach { case (n, r) =>
      r.map(i => (i, s"p$i")).toDF("id", "p").coalesce(1).write.parquet(s"$dir/w$n")
      val f = fs.globStatus(new Path(s"$dir/w$n/part-*.parquet")).head.getPath
      fs.mkdirs(new Path(s"$dir/t"))
      fs.rename(f, new Path(s"$dir/t/$n.parquet"))
      fs.delete(new Path(s"$dir/w$n"), true)
    }
    (0L until 11L).toDF("id").coalesce(1).write.parquet(s"$dir/g")
    lc.delete(spark, dir, (0L until 11L).toDF("id"))
    lc.compact(spark, dir)
    val files = dataFiles(s"$dir/t").keySet
    assert(files.size == 1, s"one replacement, no empty file: $files")
    assert(spark.read.parquet(s"$dir/t/${files.head}").select("id").as[Long].collect().toSeq ==
      (11L until 20L))
    // the gate's only file held only deleted ids: an empty file keeps its schema
    assert(dataFiles(s"$dir/g").size == 1)
    assert(Parquet.read(spark, s"$dir/g").columns.toSeq == Seq("id") && ids(s"$dir/g").isEmpty)
  }

  test("a log past MaxLookupKeys compacts through a join, keeping each file's columns and order") {
    val dir = tmp("graft-dc-join")
    val lc = keyedLifecycle
    val n = 3000L
    // three files, ids k, k+3, ... in descending order, payload first
    (0 until 3).foreach { k =>
      (n - 3 + k to 0L by -3L).map(i => (s"p$i", i)).toDF("p", "id").coalesce(1)
        .write.mode(SaveMode.Append).parquet(s"$dir/t")
    }
    (0L until n).toDF("id").coalesce(1).write.parquet(s"$dir/g")
    val before = dataFiles(s"$dir/t").keySet
    val deleted = (0L until n by 2L)
    assert(deleted.size > KeyedSidecar.MaxLookupKeys)
    lc.delete(spark, dir, deleted.toDF("id"))
    lc.compact(spark, dir)
    val files = dataFiles(s"$dir/t").keySet
    assert(files.size == 3 && (files & before).isEmpty, "every file held a deleted id")
    files.foreach { f =>
      val df = spark.read.parquet(s"$dir/t/$f")
      assert(df.columns.toSeq == Seq("p", "id"), s"$f: column order")
      val got = df.select("id").as[Long].collect().toSeq
      val k = got.head % 3
      assert(got == (n - 3 + k to 0L by -3L).filter(_ % 2 == 1), s"$f: kept rows or their order")
    }
    assert(ids(s"$dir/g") == (0L until n).filter(_ % 2 == 1).toSet)
    assert(!lc.logged(spark, dir))
  }

  test("dirty files of one table with different columns each keep their own columns") {
    import graft.vector.VectorIndex
    val dir = tmp("graft-dc-cols") + "/idx"
    val day = java.sql.Date.valueOf("2024-05-01")
    def rows(from: Long) = emb.filter(col("vec_id") >= from && col("vec_id") < from + 10L)
      .select(col("vec_id"), col("embedding"), lit("embedding").as("data_type"),
        to_json(struct(col("vec_id"))).as("data_json"), lit(day).as("ingest_date"))
      .coalesce(1)
    // two appends to one day, the second with a column the first lacks
    VectorIndex.append(rows(0L), dir)
    VectorIndex.append(rows(10L).withColumn("extras", concat(lit("x"), col("vec_id"))), dir)
    val dayDir = s"$dir/ingest_date=$day"
    def byColumns = dataFiles(dayDir).keys.map { f =>
      spark.read.parquet(s"$dayDir/$f").columns.toSeq -> fileRows(s"$dayDir/$f") }.toMap
    val before = byColumns
    assert(before.size == 2)
    val deleted = Set(3L, 13L)
    VectorIndex.delete(spark, dir, deleted.toSeq.toDF("vec_id"))
    VectorIndex.compact(spark, dir)
    val after = byColumns
    assert(dataFiles(dayDir).size == 2 && after.keySet == before.keySet,
      s"each file keeps its own columns: ${after.keys}")
    before.foreach { case (cols, rs) =>
      assert(after(cols) == rs.filterNot(r => deleted(r.getLong(0))),
        s"${cols.mkString(",")}: the kept rows, in file order")
    }
    assert(!VectorIndex.Lifecycle.logged(spark, dir), "the log stays")
    assert(!Files.exists(Paths.get(dir, "._journal")) && !Files.exists(Paths.get(dir, "._stage")))
    assert(VectorIndex.loadRecent(spark, dir, day).select("vec_id").as[Long].collect().toSet ==
      (0L until 20L).toSet -- deleted, "every kept row reads back, no deleted id")
  }
}
