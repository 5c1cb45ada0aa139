package graft.sources

import scala.collection.mutable
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{GraftParquetBridge, Row, SparkSession}
import org.apache.spark.sql.functions.{col, input_file_name}
import org.apache.spark.sql.types.StructType

/** Parquet files held on the driver, decoded, for the searches that answer
  * from them ([[graft.vector.ResidentWindow]] and `IvfIndex.search`). The
  * reference keeps its vector indexes in memory and searches them there
  * (`faiss_manager.py:26-27,221-252`); this is the same for graft's parquet
  * layouts.
  *
  * One entry per immutable file, keyed by its fully qualified path and
  * valid while the file's length and mtime are the listed ones. A caller
  * lists the directories it needs, takes a [[snapshot]] of the fresh
  * entries, [[read]]s the files it does not hold in one job and [[hold]]s
  * them. The listing is the only validation: an append by any writer, a
  * retention drop, a delete, a compact and a retrain all show in it as new
  * or vanished files, so no write path invalidates anything.
  *
  * One driver-wide bound, [[MaxBytes]] of held parquet, shared by every
  * caller. Eviction is in insertion order and never drops a file the
  * holding search names as its own; a snapshot keeps its rows, so another
  * thread's eviction never takes rows from a running search.
  */
private[graft] object ResidentFiles {

  /** Driver-wide bound on held parquet bytes, on the scale of
    * `KeyedSidecar.MinPruneBytes`: a search whose files pass it scans.
    */
  val MaxBytes: Long = 32L * 1024 * 1024

  private final case class Held(len: Long, mtime: Long, value: Any)

  // guarded by `held`; insertion order is eviction order
  private val held = mutable.LinkedHashMap.empty[String, Held]
  private var heldBytes = 0L

  /** Parquet bytes held now, across every caller. */
  def bytesHeld: Long = held.synchronized(heldBytes)

  /** The values held for those of `files` whose length and mtime are the
    * listed ones, by [[key]].
    */
  def snapshot[T](files: Seq[FileStatus]): Map[String, T] = held.synchronized(
    files.flatMap(f => held.get(key(f)).filter(h =>
      h.len == f.getLen && h.mtime == f.getModificationTime)
      .map(h => key(f) -> h.value.asInstanceOf[T])).toMap)

  /** Hold each file's value, after dropping every held key `stale` names.
    * Older entries outside `keep` are evicted to stay within [[MaxBytes]]; a
    * file that cannot fit is not held.
    */
  def hold[T](files: Seq[(FileStatus, T)], keep: Set[String],
      stale: String => Boolean = _ => false): Unit = held.synchronized {
    held.keys.filter(stale).toSeq.foreach(drop)
    files.foreach { case (file, value) =>
      val k = key(file)
      drop(k)
      if (heldBytes + file.getLen > MaxBytes) {
        val evictable = held.keysIterator.filterNot(keep).toList.iterator
        while (heldBytes + file.getLen > MaxBytes && evictable.hasNext) drop(evictable.next())
      }
      if (heldBytes + file.getLen <= MaxBytes) {
        held(k) = Held(file.getLen, file.getModificationTime, value)
        heldBytes += file.getLen
      }
    }
  }

  /** `columns` of `files`, by file, in one job: the read's schema and each
    * file's rows (by column name; each row leads with its file name); None
    * when `readable` rejects that schema or the read names a file by another
    * path. A file without rows maps to none.
    */
  def read(spark: SparkSession, files: Seq[FileStatus], columns: Seq[String],
      readable: StructType => Boolean): Option[(StructType, Map[String, Seq[Row]])] =
    if (files.isEmpty) Some((new StructType(), Map.empty))
    else {
      val df = Parquet.read(spark, files.map(_.getPath.toString): _*)
      if (!readable(df.schema)) None
      else {
        val fs = fileSystem(spark, files.head.getPath)
        val keys = files.map(key).toSet
        val picked = df.select(input_file_name() +: columns.map(col): _*)
        val byFile = picked.collect().toSeq
          .groupBy(r => key(fs.makeQualified(new Path(new java.net.URI(r.getString(0))))))
        if (byFile.keySet.subsetOf(keys)) Some((picked.schema, byFile)) else None
      }
    }

  /** Listed paths are qualified: the key of a file is its path's string. */
  def key(f: FileStatus): String = key(f.getPath)
  def key(p: Path): String = p.toString

  def fileSystem(spark: SparkSession, path: Path): FileSystem =
    path.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The children of `dir` that Spark's file index lists (its hidden-name
    * rule), with qualified paths; none when `dir` is missing.
    */
  def visible(fs: FileSystem, dir: Path): Seq[FileStatus] =
    (try fs.listStatus(fs.makeQualified(dir)).toSeq
    catch { case _: java.io.FileNotFoundException => Nil })
      .filterNot(st => GraftParquetBridge.hiddenName(st.getPath.getName))

  /** A listed file that Spark reads as data: not a directory, not a summary. */
  def dataFile(f: FileStatus): Boolean = f.isFile && !f.getPath.getName.startsWith("_")

  private def drop(k: String): Unit =
    held.remove(k).foreach(h => heldBytes -= h.len)
}
