package graft.vector

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.types._
import graft.sources.ResidentFiles

/** The flat index's retained window, resident on the driver: the search
  * tool's half of [[graft.sources.ResidentFiles]], for the parquet layout of
  * [[VectorIndex]]. This object keeps only the window: which files a search
  * lists, how their rows decode, and the ranking; the held files, their
  * validation and the byte bound are the store's.
  *
  * [[IndexPipeline.indexRecords]] holds the page it just wrote under the
  * one file the write added. A search lists the retained day directories,
  * reuses the files the store holds, reads every other listed file in one
  * job, and ranks the window on the driver over the decoded rows. An append
  * by another writer, `retain`, `delete` and `compact` all show in the
  * listing. The result is the ranked hit rows themselves, in [[HitSchema]]:
  * the search tool builds its hits from them with no Spark SQL execution,
  * and [[IndexPipeline.searchIndex]] wraps the same rows in a local frame.
  *
  * The search answers only when the scan would read exactly what the window
  * holds; it returns None (the caller scans) while a tombstone log exists,
  * when the window passes [[graft.sources.ResidentFiles.MaxBytes]], or when
  * a day directory holds anything but data files.
  */
private[graft] object ResidentWindow {

  /** One index row as the search ranks it. */
  private final case class Vec(vecId: java.lang.Long, emb: Array[Float],
      dataType: String, dataJson: String)

  /** The scan path's output schema ([[VectorIndex.search]]), the schema of
    * the rows [[search]] returns.
    */
  private[vector] val HitSchema = StructType(Seq(
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
    val fs = ResidentFiles.fileSystem(spark, new Path(indexPath))
    val dir = new Path(fs.makeQualified(new Path(indexPath)), s"ingest_date=$day")
    def files = ResidentFiles.visible(fs, dir).filter(_.isFile)
    val before = files.map(key).toSet
    write
    files.filterNot(f => before(key(f))) match {
      case Seq(file) => ResidentFiles.hold(Seq(file -> vecs(page)), Set.empty)
      case _ =>
    }
  }

  /** Top-`k` of the window `(anchor − RetentionDays, anchor]` of the index
    * whose visible day directories are `days`, as rows of [[HitSchema]] in
    * rank order, with the scan's ranking; None when the scan must answer.
    */
  def search(spark: SparkSession, indexPath: String, days: Seq[(java.time.LocalDate, Path)],
      anchor: java.time.LocalDate, query: Array[Float], k: Int): Option[Seq[Row]] = {
    val fs = ResidentFiles.fileSystem(spark, new Path(indexPath))
    if (VectorIndex.Lifecycle.logged(spark, indexPath)) return None
    val from = anchor.minusDays(VectorIndex.RetentionDays)
    val window = days.filter { case (d, _) => d.isAfter(from) && !d.isAfter(anchor) }
      .map { case (_, dir) => fs.makeQualified(dir) }
    val files = window.flatMap(ResidentFiles.visible(fs, _)).sortBy(key)
    if (!files.forall(ResidentFiles.dataFile) ||
      files.map(_.getLen).sum > ResidentFiles.MaxBytes) return None
    val keys = files.map(key).toSet
    val have = ResidentFiles.snapshot[IndexedSeq[Vec]](files)
    val missing = files.filterNot(f => have.contains(key(f)))
    read(spark, missing).map { loaded =>
      val root = key(fs.makeQualified(new Path(indexPath))) + "/"
      val liveDirs = days.map(d => key(fs.makeQualified(d._2))).toSet
      val windowDirs = window.map(key).toSet
      // held files of this index that a listing no longer shows
      def stale(f: String) = f.startsWith(root) && {
        val dir = f.substring(0, f.lastIndexOf('/'))
        !liveDirs(dir) || (windowDirs(dir) && !keys(f))
      }
      ResidentFiles.hold(missing.map(f => f -> loaded.getOrElse(key(f), IndexedSeq.empty)),
        keys, stale)
      val rows = files.flatMap(f => have.getOrElse(key(f), loaded.getOrElse(key(f), Nil)))
      rank(rows, query, k)
    }
  }

  /** The rows of `files`, by file, in one job; None when their schema is
    * not the index's, or when the read names a file by another path.
    */
  private def read(spark: SparkSession,
      files: Seq[FileStatus]): Option[Map[String, IndexedSeq[Vec]]] =
    ResidentFiles.read(spark, files, Seq("vec_id", "embedding", "data_type", "data_json"),
      schema => {
        val types = schema.fields.map(f => f.name -> f.dataType).toMap
        Seq("vec_id" -> LongType, "data_type" -> StringType, "data_json" -> StringType)
          .forall { case (c, t) => types.get(c).contains(t) } && floats(types.get("embedding"))
      }).map { case (_, byFile) => byFile.map { case (f, rs) => f -> rs.map(vec).toIndexedSeq } }

  /** The scan's ranking: squared L2 as [[l2Sq]] folds it, ordered by
    * (d2, vec_id) in SQL's order; a row without an embedding never ranks.
    * Score `1 - d2/2`.
    */
  private def rank(rows: Seq[Vec], q: Array[Float], k: Int): Seq[Row] =
    rows.filter(_.emb != null).map(v => (l2Sq(v.emb, q), v))
      .sorted[(Double, Vec)]((a, b) => {
        val byD2 = compareD2(a._1, b._1)
        if (byD2 != 0) byD2 else compareIds(a._2.vecId, b._2.vecId)
      })
      .take(k).zipWithIndex.map { case ((d2, v), i) =>
        Row(i + 1L, 1.0 - d2 / 2.0, v.dataType, v.dataJson)
      }

  /** Squared L2 as `FloatVecL2Sq` folds it: floats widened to double,
    * summed left to right over the shorter length.
    */
  private[vector] def l2Sq(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var acc = 0.0
    var i = 0
    while (i < n) {
      val d = a(i).toDouble - b(i).toDouble
      acc += d * d
      i += 1
    }
    acc
  }

  /** SQL's ascending double order: -0.0 equals 0.0, NaN sorts last. */
  private[vector] def compareD2(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  /** SQL's ascending long order, nulls first. */
  private[vector] def compareIds(a: java.lang.Long, b: java.lang.Long): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x, y) => java.lang.Long.compare(x, y)
  }

  /** Whether a column type is the embedding's, `array<float>`. */
  private[vector] def floats(t: Option[DataType]): Boolean = t.exists {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  /** An `array<float>` cell of a collected row, decoded once. */
  private[vector] def floatsOf(r: Row, name: String): Array[Float] = {
    val emb = r.getAs[scala.collection.Seq[Float]](name)
    if (emb == null) null else emb.toArray
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

  private def vec(r: Row): Vec = Vec(r.getAs[java.lang.Long]("vec_id"),
    floatsOf(r, "embedding"), r.getAs[String]("data_type"), r.getAs[String]("data_json"))

  private def key(f: FileStatus): String = ResidentFiles.key(f)
  private def key(p: Path): String = ResidentFiles.key(p)
}
