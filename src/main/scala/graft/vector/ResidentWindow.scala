package graft.vector

import scala.collection.mutable
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftParquetBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types._
import graft.sources.{LocalFrame, Parquet}

/** The flat index's retained window, resident on the driver. The reference
  * keeps each day's FAISS index in memory, adds a page to it in memory and
  * searches it there (`faiss_manager.py:26-27,221-252`); this is the same
  * for the parquet layout of [[VectorIndex]].
  *
  * One entry per immutable parquet file, keyed by its fully qualified path
  * and valid while the file's length and mtime are the listed ones.
  * [[IndexPipeline.indexRecords]] adds the page it just wrote under the one
  * file the write added. A search lists the retained day directories, reuses
  * the files it holds, reads every other listed file in one job, and ranks
  * the window on the driver. The listing is the only validation: an append
  * by another writer, `retain`, `delete` and `compact` all show in it, so no
  * write path invalidates anything.
  *
  * The search answers only when the scan would read exactly what the window
  * holds; it returns None (the caller scans) while a tombstone log exists,
  * when the window passes [[MaxBytes]], or when a day directory holds
  * anything but data files.
  */
private[graft] object ResidentWindow {

  /** Driver-wide bound on held parquet bytes, on the scale of
    * `KeyedSidecar.MinPruneBytes`: a window larger than this is scanned.
    */
  val MaxBytes: Long = 32L * 1024 * 1024

  /** One index row as the search ranks it. */
  private final case class Vec(vecId: java.lang.Long, emb: Array[Float],
      dataType: String, dataJson: String)

  private final case class Held(len: Long, mtime: Long, rows: IndexedSeq[Vec])

  // guarded by `held`; insertion order is eviction order
  private val held = mutable.LinkedHashMap.empty[String, Held]
  private var heldBytes = 0L

  /** The scan path's output schema ([[VectorIndex.search]]). */
  private val HitSchema = StructType(Seq(
    StructField("rank", LongType, nullable = false),
    StructField("similarity_score", DoubleType),
    StructField("data_type", StringType),
    StructField("data_json", StringType)))

  /** Run `write`, which appends `page` (index rows) to the `day` directory
    * of `indexPath`, and hold the page under the one file the write added.
    * When the write added anything else, nothing is held; the next search
    * reads what appeared.
    */
  def appended(spark: SparkSession, indexPath: String, day: java.time.LocalDate,
      page: LocalRelation)(write: => Unit): Unit = {
    val fs = fileSystem(spark, indexPath)
    val dir = new Path(fs.makeQualified(new Path(indexPath)), s"ingest_date=$day")
    def files = visible(fs, dir).filter(_.isFile)
    val before = files.map(key).toSet
    write
    files.filterNot(f => before(key(f))) match {
      case Seq(file) => held.synchronized(put(file, vecs(page), Set.empty))
      case _ =>
    }
  }

  /** Top-`k` of the window `(anchor − RetentionDays, anchor]` of the index
    * whose visible day directories are `days`, with the scan's ranking and
    * schema; None when the scan must answer.
    */
  def search(spark: SparkSession, indexPath: String, days: Seq[(java.time.LocalDate, Path)],
      anchor: java.time.LocalDate, query: Array[Float], k: Int): Option[DataFrame] = {
    val fs = fileSystem(spark, indexPath)
    if (VectorIndex.Lifecycle.logged(spark, indexPath)) return None
    val from = anchor.minusDays(VectorIndex.RetentionDays)
    val window = days.filter { case (d, _) => d.isAfter(from) && !d.isAfter(anchor) }
      .map { case (_, dir) => fs.makeQualified(dir) }
    val files = window.flatMap(visible(fs, _)).sortBy(key)
    if (files.exists(f => f.isDirectory || f.getPath.getName.startsWith("_")) ||
      files.map(_.getLen).sum > MaxBytes) return None
    val keys = files.map(key).toSet
    // a snapshot: another thread's eviction must not take rows from this search
    val have = held.synchronized(
      files.flatMap(f => held.get(key(f)).filter(fresh(f, _)).map(key(f) -> _.rows)).toMap)
    val missing = files.filterNot(f => have.contains(key(f)))
    read(spark, fs, missing).map { loaded =>
      held.synchronized {
        val root = key(fs.makeQualified(new Path(indexPath))) + "/"
        val liveDirs = days.map(d => key(fs.makeQualified(d._2))).toSet
        val windowDirs = window.map(key).toSet
        // held files of this index that a listing no longer shows
        held.keys.filter(_.startsWith(root)).filter { f =>
          val dir = f.substring(0, f.lastIndexOf('/'))
          !liveDirs(dir) || (windowDirs(dir) && !keys(f))
        }.toSeq.foreach(drop)
        missing.foreach(f => put(f, loaded.getOrElse(key(f), IndexedSeq.empty), keys))
      }
      val rows = files.flatMap(f => have.getOrElse(key(f), loaded.getOrElse(key(f), Nil)))
      LocalFrame.of(spark, HitSchema, rank(rows, query, k))
    }
  }

  /** The rows of `files`, by file, in one job; None when their schema is
    * not the index's, or when the read names a file by another path.
    */
  private def read(spark: SparkSession, fs: FileSystem,
      files: Seq[FileStatus]): Option[Map[String, IndexedSeq[Vec]]] =
    if (files.isEmpty) Some(Map.empty)
    else {
      val df = Parquet.read(spark, files.map(_.getPath.toString): _*)
      val types = df.schema.fields.map(f => f.name -> f.dataType).toMap
      val expected = Seq("vec_id" -> LongType, "data_type" -> StringType,
        "data_json" -> StringType)
      val readable = expected.forall { case (c, t) => types.get(c).contains(t) } &&
        types.get("embedding").exists {
          case ArrayType(FloatType, _) => true
          case _ => false
        }
      if (!readable) None
      else Some(df.select(input_file_name(), col("vec_id"), col("embedding"),
          col("data_type"), col("data_json")).collect().toSeq
        .groupBy(r => key(fs.makeQualified(new Path(new java.net.URI(r.getString(0))))))
        .map { case (f, rs) => f -> rs.map(vec).toIndexedSeq })
        .filter(_.keySet.subsetOf(files.map(key).toSet))
    }

  /** The scan's ranking: squared L2 as `FloatVecL2Sq` folds it (floats
    * widened to double, summed left to right over the shorter length),
    * ordered by (d2, vec_id) with SQL's double order and nulls first; a row
    * without an embedding never ranks. Score `1 - d2/2`.
    */
  private def rank(rows: Seq[Vec], q: Array[Float], k: Int): Seq[Row] = {
    val scored = rows.filter(_.emb != null).map { v =>
      val n = math.min(v.emb.length, q.length)
      var acc = 0.0
      var i = 0
      while (i < n) {
        val d = v.emb(i).toDouble - q(i).toDouble
        acc += d * d
        i += 1
      }
      (acc, v)
    }
    val order: Ordering[(Double, Vec)] = (a, b) => {
      val byD2 = if (a._1 == b._1) 0 else java.lang.Double.compare(a._1, b._1)
      if (byD2 != 0) byD2
      else (a._2.vecId, b._2.vecId) match {
        case (null, null) => 0
        case (null, _) => -1
        case (_, null) => 1
        case (x, y) => java.lang.Long.compare(x, y)
      }
    }
    scored.sorted(order).take(k).zipWithIndex.map { case ((d2, v), i) =>
      Row(i + 1L, 1.0 - d2 / 2.0, v.dataType, v.dataJson)
    }
  }

  private def vecs(page: LocalRelation): IndexedSeq[Vec] = {
    val at = page.output.map(_.name)
    val (id, emb, dt, dj) = (at.indexOf("vec_id"), at.indexOf("embedding"),
      at.indexOf("data_type"), at.indexOf("data_json"))
    def str(r: InternalRow, i: Int) = if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    page.data.map { r =>
      Vec(if (r.isNullAt(id)) null else java.lang.Long.valueOf(r.getLong(id)),
        if (r.isNullAt(emb)) null else r.getArray(emb).toFloatArray(), str(r, dt), str(r, dj))
    }.toIndexedSeq
  }

  private def vec(r: Row): Vec = {
    val emb = r.getAs[scala.collection.Seq[Float]]("embedding")
    Vec(r.getAs[java.lang.Long]("vec_id"), if (emb == null) null else emb.toArray,
      r.getAs[String]("data_type"), r.getAs[String]("data_json"))
  }

  /** Hold `rows` under `file`, evicting the oldest entries outside `keep`
    * to stay within [[MaxBytes]]; a file that cannot fit is not held.
    */
  private def put(file: FileStatus, rows: IndexedSeq[Vec], keep: Set[String]): Unit = {
    val k = key(file)
    drop(k)
    val evictable = held.keysIterator.filterNot(keep).toList.iterator
    while (heldBytes + file.getLen > MaxBytes && evictable.hasNext) drop(evictable.next())
    if (heldBytes + file.getLen <= MaxBytes) {
      held(k) = Held(file.getLen, file.getModificationTime, rows)
      heldBytes += file.getLen
    }
  }

  private def drop(k: String): Unit =
    held.remove(k).foreach(h => heldBytes -= h.len)

  private def fresh(f: FileStatus, h: Held): Boolean =
    h.len == f.getLen && h.mtime == f.getModificationTime

  /** Listed paths are qualified: the key of a file is its path's string. */
  private def key(f: FileStatus): String = key(f.getPath)
  private def key(p: Path): String = p.toString

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The children of `dir` that Spark's file index lists (its hidden-name
    * rule); none when `dir` is missing.
    */
  private def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
    (try fs.listStatus(dir).toSeq catch { case _: java.io.FileNotFoundException => Nil })
      .filterNot(st => GraftParquetBridge.hiddenName(st.getPath.getName))
}
