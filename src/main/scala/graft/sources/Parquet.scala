package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, GraftParquetBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one parquet reader: `spark.read.parquet` without the
  * schema-inference job.
  *
  * With `mergeSchema` off, `spark.read.parquet` infers the schema from ONE
  * file, yet still does it inside a one-task Spark job
  * (`SchemaMergeUtils.mergeSchemasInParallel`). On short interactive calls
  * that job is a large share of the fixed cost: every tool call reads several
  * tables. This reader picks the same file `ParquetUtils.inferSchema` picks
  * (`_common_metadata`, else `_metadata`, else the first data file in path
  * order), reads its footer on the driver, and hands the schema to
  * `spark.read.schema(..)`. Partition columns are still discovered from the
  * directory names by the read itself, so the DataFrame is the one
  * `spark.read.parquet` returns: same schema, same plan above the scan.
  *
  * A path that is missing or holds no data file reads through
  * `spark.read.parquet` unchanged, so it fails with Spark's own error; so
  * does every read while `spark.sql.parquet.mergeSchema` is on.
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    readWith(spark, Map.empty, paths)

  /** Read partition directories `dirs` of the layout rooted at `basePath`
    * (`option("basePath", ..)`): partition columns above the listed
    * directories are still discovered.
    */
  def readUnder(spark: SparkSession, basePath: String, dirs: Seq[String]): DataFrame =
    readWith(spark, Map("basePath" -> basePath), dirs)

  private def readWith(spark: SparkSession, options: Map[String, String],
      paths: Seq[String]): DataFrame = {
    val reader = spark.read.options(options)
    // a session that merges schemas reads every footer; leave that to Spark
    val merging = spark.conf.get("spark.sql.parquet.mergeSchema", "false").toBoolean
    (if (merging) None else schema(spark, paths)).fold(reader)(reader.schema)
      .parquet(paths: _*)
  }

  /** The schema `spark.read.parquet(paths)` infers, or None when the paths
    * hold no data file (a missing path included).
    */
  private def schema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = GraftParquetBridge.hadoopConf(spark)
    val roots = paths.map { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      (fs, status(fs, path))
    }
    if (roots.isEmpty || roots.exists(_._2.isEmpty)) return None
    val leaves = roots.flatMap {
      case (fs, Some(st)) if st.isDirectory =>
        leafFiles(fs, st.getPath, direct = true, inPartition = false)
      case (_, st) => st.map(Leaf(_, direct = true, inPartition = false))
    }
    // an unpartitioned directory reads only its direct children
    val files = (if (leaves.exists(_.inPartition)) leaves else leaves.filter(_.direct))
      .map(_.status).sortBy(_.getPath.toString)
    val (summaries, data) = files.partition(f =>
      f.getPath.getName == "_common_metadata" || f.getPath.getName == "_metadata")
    if (data.isEmpty) None
    else {
      val pick = summaries.find(_.getPath.getName == "_common_metadata")
        .orElse(summaries.headOption).getOrElse(data.head)
      Some(GraftParquetBridge.footerSchema(spark, pick, conf))
    }
  }

  private def status(fs: FileSystem, p: Path): Option[FileStatus] =
    try Some(fs.getFileStatus(p)) catch { case _: java.io.FileNotFoundException => None }

  private final case class Leaf(status: FileStatus, direct: Boolean, inPartition: Boolean)

  /** Visible leaf files under `dir` (Spark's hidden-name rule), each marked
    * if it is a direct child of the read root and if it sits under a `k=v`
    * directory.
    */
  private def leafFiles(fs: FileSystem, dir: Path, direct: Boolean,
      inPartition: Boolean): Seq[Leaf] =
    fs.listStatus(dir).toSeq
      .filterNot(st => GraftParquetBridge.hiddenName(st.getPath.getName))
      .flatMap { st =>
        if (st.isDirectory) leafFiles(fs, st.getPath, direct = false,
          inPartition || st.getPath.getName.contains("="))
        else Seq(Leaf(st, direct, inPartition))
      }
}
