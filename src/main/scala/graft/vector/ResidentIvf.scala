package graft.vector

import java.time.LocalDate
import scala.util.Try
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import graft.sources.{LocalFrame, ResidentFiles}

/** [[IvfIndex.search]] answered from the index's files held on the driver
  * ([[graft.sources.ResidentFiles]], the store the flat window uses): the
  * centroid sidecar and the `vectors` layout, one entry per parquet file.
  *
  * A search lists `centroids/` and the `vectors/` tree under either nesting
  * (`cell=/ingest_date=` or `ingest_date=/cell=`), taking each file's
  * `cell` and `ingest_date` from its directory names. It ranks the cells on
  * the driver and keeps the probed cells' files inside the `asOf` window.
  * When any of those is not held, it reads every file of the table it does
  * not hold, in one job, so the lookups that follow probe any cells without
  * a job. The ranking is the scan's, bit for bit.
  *
  * None (the caller scans) while a tombstone log exists, when the centroid
  * and vector files together pass [[graft.sources.ResidentFiles.MaxBytes]],
  * when a directory name is not the scan's partition value, when a summary
  * file, a stray file or a stray directory is listed, and when a file's
  * schema lacks the columns.
  */
private[vector] object ResidentIvf {

  private final case class Vec(vecId: java.lang.Long, label: Any, emb: Array[Float])
  /** One decoded vectors file: the label's type as read, and its rows. */
  private final case class Cells(labelType: DataType, rows: IndexedSeq[Vec])
  /** A listed vectors file with its partition values. */
  private final case class Listed(file: FileStatus, cell: Long, day: LocalDate)

  def search(spark: SparkSession, path: String, query: Array[Float], k: Int, nProbe: Int,
      asOf: java.sql.Date, maxDays: Int): Option[DataFrame] = {
    if (k < 0 || nProbe < 0 || IvfIndex.Lifecycle.logged(spark, path)) return None
    val root = new Path(path)
    val fs = ResidentFiles.fileSystem(spark, root)
    val centDir = fs.makeQualified(new Path(root, "centroids"))
    val vecDir = fs.makeQualified(new Path(root, "vectors"))
    val centFiles = ResidentFiles.visible(fs, centDir)
    val vecFiles = listVectors(fs, vecDir).getOrElse(return None)
    val all = centFiles ++ vecFiles.map(_.file)
    if (vecFiles.isEmpty || all.map(_.getLen).sum > ResidentFiles.MaxBytes) return None
    val keep = all.map(key).toSet
    val under = Seq(centDir, vecDir).map(d => key(d) + "/")
    // held files of this index that the listing no longer shows
    def stale(f: String) = under.exists(f.startsWith) && !keep(f)

    val probed = IvfIndex.rankCells(held(spark, centFiles, keep, stale).getOrElse(return None),
      query, nProbe).toSet
    val from = Option(asOf).map(_.toLocalDate.minusDays(maxDays))
    val needed = vecFiles.filter(l => probed(l.cell) &&
      Option(asOf).forall(a => l.day.isAfter(from.get) && !l.day.isAfter(a.toLocalDate)))

    val have = ResidentFiles.snapshot[Cells](vecFiles.map(_.file))
    val missing =
      if (needed.forall(l => have.contains(key(l.file)))) Nil
      else vecFiles.map(_.file).filterNot(f => have.contains(key(f)))
    val loaded = vectors(spark, missing).getOrElse(return None)
    ResidentFiles.hold(missing.map(f => f -> loaded(key(f))), keep, stale)
    val files = have ++ loaded
    val labelType = files.values.map(_.labelType).toSet.toSeq match {
      case Seq(t) => t
      case _ => return None
    }
    val hits = needed.flatMap(l => files(key(l.file)).rows.map(v => (l.cell, v)))
      .map { case (cell, v) => (if (v.emb == null) null else d2(v.emb, query), cell, v) }
      .sorted[(java.lang.Double, Long, Vec)]((a, b) => {
        val byD2 = compareD2(a._1, b._1)
        if (byD2 != 0) byD2 else ResidentWindow.compareIds(a._3.vecId, b._3.vecId)
      })
      .take(k).map { case (dist, cell, v) => Row(v.vecId, v.label, cell, dist) }
    Some(LocalFrame.of(spark, StructType(Seq(
      StructField("vec_id", LongType), StructField("label", labelType),
      StructField("cid", LongType), StructField("dist_sq", DoubleType))), hits))
  }

  /** The (cid, c_embedding) rows of the centroid sidecar under `path`, held
    * or read in one job (and then held) — the read behind
    * [[IvfIndex.centroidRows]]. None when the store cannot answer.
    */
  def centroids(spark: SparkSession, path: String): Option[Seq[(Long, Array[Float])]] = {
    val root = new Path(path)
    val fs = ResidentFiles.fileSystem(spark, root)
    val dir = fs.makeQualified(new Path(root, "centroids"))
    val files = ResidentFiles.visible(fs, dir)
    val keep = files.map(key).toSet
    held(spark, files, keep, f => f.startsWith(key(dir) + "/") && !keep(f))
  }

  /** The centroid rows of the listed `files`, held or read in one job (and
    * then held); None on no file, a summary or stray entry, a null cid or
    * a schema without the columns.
    */
  private def held(spark: SparkSession, files: Seq[FileStatus], keep: Set[String],
      stale: String => Boolean): Option[Seq[(Long, Array[Float])]] = {
    if (files.isEmpty || !files.forall(ResidentFiles.dataFile)) return None
    val have = ResidentFiles.snapshot[IndexedSeq[(Long, Array[Float])]](files)
    val missing = files.filterNot(f => have.contains(key(f)))
    ResidentFiles.read(spark, missing, Seq("cid", "c_embedding"), schema =>
      schema.fields.exists(f => f.name == "cid" && f.dataType == LongType) &&
        ResidentWindow.floats(schema.fields.find(_.name == "c_embedding").map(_.dataType))
    ).flatMap { case (_, byFile) =>
      if (byFile.values.flatten.exists(_.isNullAt(1))) None // the plain collect's getLong throws
      else {
        val loaded = missing.map(f => key(f) -> byFile.getOrElse(key(f), Nil)
          .map(r => (r.getLong(1), ResidentWindow.floatsOf(r, "c_embedding"))).toIndexedSeq)
          .toMap
        ResidentFiles.hold(missing.map(f => f -> loaded(key(f))), keep, stale)
        Some(files.flatMap(f => have.getOrElse(key(f), loaded(key(f)))))
      }
    }
  }

  /** The rows of vectors `files`, by file, in one job. */
  private def vectors(spark: SparkSession, files: Seq[FileStatus]): Option[Map[String, Cells]] =
    if (files.isEmpty) Some(Map.empty)
    else ResidentFiles.read(spark, files, Seq("vec_id", "label", "embedding"), schema =>
      schema.fields.exists(f => f.name == "vec_id" && f.dataType == LongType) &&
        schema.fieldNames.contains("label") &&
        ResidentWindow.floats(schema.fields.find(_.name == "embedding").map(_.dataType))
    ).map { case (schema, byFile) =>
      val labelType = schema("label").dataType
      files.map(f => key(f) -> Cells(labelType, byFile.getOrElse(key(f), Nil).map(r =>
        Vec(r.getAs[java.lang.Long]("vec_id"), r.get(2), ResidentWindow.floatsOf(r, "embedding")))
        .toIndexedSeq)).toMap
    }

  /** Every data file of the `vectors` tree with the `cell` and `ingest_date`
    * its directories name; None unless the tree is exactly two levels of
    * partition directories of one nesting over data files, each name the
    * canonical form of the value the scan's partition discovery gives it.
    */
  private def listVectors(fs: FileSystem, dir: Path): Option[Seq[Listed]] = {
    val top = ResidentFiles.visible(fs, dir)
    val names = top.map(_.getPath.getName)
    val cellMajor = names.forall(_.startsWith("cell="))
    if (!top.forall(_.isDirectory) ||
      !(cellMajor || names.forall(_.startsWith("ingest_date=")))) return None
    val listed = top.flatMap { outer =>
      ResidentFiles.visible(fs, outer.getPath).map { inner =>
        val (cellDir, dayDir) = if (cellMajor) (outer, inner) else (inner, outer)
        val files = if (inner.isDirectory) ResidentFiles.visible(fs, inner.getPath) else Nil
        for {
          cell <- value(cellDir, "cell").flatMap(v => v.toLongOption.filter(_.toString == v))
          day <- value(dayDir, "ingest_date")
            .flatMap(v => Try(LocalDate.parse(v)).toOption.filter(_.toString == v))
          if files.forall(ResidentFiles.dataFile)
        } yield files.map(Listed(_, cell, day))
      }
    }
    if (listed.forall(_.isDefined)) Some(listed.flatten.flatten) else None
  }

  /** The value a `column=value` directory names. */
  private def value(dir: FileStatus, column: String): Option[String] = {
    val name = dir.getPath.getName
    if (dir.isDirectory && name.startsWith(column + "=")) Some(name.drop(column.length + 1))
    else None
  }

  private[vector] def d2(emb: Array[Float], q: Array[Float]): java.lang.Double =
    ResidentWindow.l2Sq(emb, q)

  /** SQL's ascending double order with nulls first. */
  private[vector] def compareD2(a: java.lang.Double, b: java.lang.Double): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case (x, y) => ResidentWindow.compareD2(x, y)
  }

  private def key(f: FileStatus): String = ResidentFiles.key(f)
  private def key(p: Path): String = ResidentFiles.key(p)
}
