package graft.sources

import scala.util.{Success, Try}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, input_file_name, lit, not}
import org.apache.spark.sql.types.StructType

/** The point-delete lifecycle every persisted index shares — Lucene's
  * deleted-docs model. Removing a row in place would rewrite every
  * directory it lives in, so `delete` appends the ids to a tombstone log,
  * every serving path anti-joins the log (`dropTombstoned`; the log is
  * bounded by deletes-since-compaction and broadcasts), and `compact`
  * folds it into the layout. The reference can only drop whole days
  * (`faiss_manager.py:151-172`).
  *
  * An index declares, as data: its `key` column, where its `log` lives,
  * and its `tables` in crash-safe commit order, each with the rule that
  * keeps its layout. `compact` recovers, reads the log once into the
  * driver, finds the files that hold a logged key (one column-pruned scan
  * of every table), and commits each table in the declared order —
  * skipping a table only when it is declared optional (legacy layouts
  * predate it) and absent — then drops the log LAST. A table commits
  * through [[CompactSwap.stageFiles]]: only its dirty files are
  * rewritten, each to one file holding its kept rows in its own row order,
  * in its own directory, so sort order and partitioning survive and the
  * replacement depends on that file's rows alone. Only a table whose
  * layout must change rewrites whole, through [[CompactSwap.rewrite]].
  * A table is a directory under the index root, or the root itself (see
  * [[IndexLifecycle.Table]]).
  *
  * Burn order: the id-gate authority table is declared LAST. A crash
  * mid-sequence leaves the earlier tables compacted and the later ones
  * as they were (`recover` finishes or undoes each table's commit) —
  * consistent either way, because the still-present log masks the later
  * tables' deleted rows, and a deleted id stays burned in the gate longer,
  * never comes back early. The gate itself reads its table raw, so a
  * deleted id stays burned until `compact`: delete → compact → append is
  * the replacement path.
  */
final case class IndexLifecycle(key: String, log: String => String,
    tables: Seq[IndexLifecycle.Table]) {
  import IndexLifecycle._

  /** Open-time crash recovery over the declared tables (see
    * [[CompactSwap.recover]]). Call at the top of every public entry point
    * that reads or writes the index.
    */
  def recover(spark: SparkSession, path: String): Unit =
    CompactSwap.recover(spark, path, tables.map(_.name))

  /** Recover, then append the ids (a frame with the `key` column) to the log. */
  def delete(spark: SparkSession, path: String, ids: DataFrame): Unit = {
    recover(spark, path)
    ids.select(col(key)).write.mode(SaveMode.Append).parquet(log(path))
  }

  /** Whether a log exists: deletes not yet folded in by `compact`. */
  def logged(spark: SparkSession, path: String): Boolean = {
    val p = new Path(log(path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The distinct logged ids, or None when no log exists. */
  def tombstones(spark: SparkSession, path: String): Option[DataFrame] =
    if (logged(spark, path))
      Some(Parquet.read(spark, new Path(log(path)).toString).select(col(key)).distinct())
    else None

  def dropTombstoned(spark: SparkSession, path: String, df: DataFrame): DataFrame =
    tombstones(spark, path).fold(df)(ts => df.join(broadcast(ts), Seq(key), "left_anti"))

  private def dropLog(spark: SparkSession, path: String): Unit = {
    val p = new Path(log(path))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    ()
  }

  /** Fold the log: commit each declared table, in order, without the
    * deleted rows. A missing required table fails loudly (its read does).
    * With no log nothing runs and no table is touched. The tables' rules
    * run in declared order; the dirty-file rewrites then stage at once
    * (staging changes nothing visible), and the commits run in declared
    * order, the first failure — a rule's, a staging's or a commit's —
    * stopping the sequence with the earlier tables committed. The dirty
    * files of one table stage in one write per column set (name → type):
    * files that differ in columns (appends of different batches) each
    * keep their own.
    */
  def compact(spark: SparkSession, path: String): Unit = {
    recover(spark, path)
    if (!logged(spark, path)) return
    // deletes since the last compaction bound the log (the broadcast in
    // dropTombstoned assumes the same): one job, then driver-held
    val logFrame = Parquet.read(spark, log(path)).select(col(key))
    val ids = logFrame.collect().distinct.toSeq
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val present = tables.filter(t => !t.optional || fs.exists(new Path(t.dir(path))))
    // up to the parquet IN-pushdown cap the ids filter as literals; past
    // it a literal list only bloats every plan (parquet sees a min/max
    // range), so a broadcast join against the driver-held ids takes over
    val byJoin = ids.size > KeyedSidecar.MaxLookupKeys
    lazy val idFrame = LocalFrame.of(spark,
      StructType(Seq(logFrame.schema(key).copy(name = LoggedCol))), ids)
    def select(df: DataFrame, keep: Boolean): DataFrame =
      if (byJoin) df.join(broadcast(idFrame), col(key) === col(LoggedCol),
        if (keep) "left_anti" else "left_semi")
      else {
        val hit = col(key).isin(ids.map(_.get(0)): _*)
        df.filter(if (keep) not(coalesce(hit, lit(false))) else hit) // a null key is never logged
      }
    def kept(df: DataFrame): DataFrame = select(df, keep = true)
    val dirty = if (ids.isEmpty) Map.empty[String, Seq[Path]]
      else dirtyFiles(spark, path, present, select(_, keep = false))
    val ruled = {
      val all = present.iterator.map(t => t -> Try(t.rule(spark, t.dir(path))))
      val (ok, failed) = all.span(_._2.isSuccess)
      ok.toList ++ failed.take(1).toList
    }
    val toStage = ruled.collect {
      case (t, Success(DirtyFiles(smallPages))) if dirty.contains(t.name) => (t.name, smallPages)
    }
    val staged = toStage.map(_._1).zip(ConcurrentJobs.run(toStage.map { case (t, smallPages) =>
      () => Try {
        // a file path read alone carries no partition columns, and its
        // replacement lands back in the file's own directory
        val reads = dirty(t).map(f => f -> kept(Parquet.read(spark, f.toString))).toMap
        // one write has one schema: files of one table that differ in
        // columns (appends of different batches) stage in one write per
        // column set
        def columns(f: Path) = reads(f).schema.fields.map(c => c.name -> c.dataType).toSet
        val groups = dirty(t).map(columns).distinct.map(c => dirty(t).filter(columns(_) == c))
        CompactSwap.stageFiles(spark, path, t, groups) { (files, stage) =>
          // one partition per dirty file, its rows in file order (a Dataset
          // union of single-partition frames would zip them into one), and
          // one file per partition (maxRecordsPerFile 0 lifts the session
          // cap: a replacement never holds more rows than its file)
          val schema = reads(files.head).schema
          val w = spark.createDataFrame(spark.sparkContext.union(files.map(f =>
            reads(f).select(schema.fieldNames.map(col): _*).rdd.coalesce(1))), schema)
            .write.mode(SaveMode.ErrorIfExists).option("maxRecordsPerFile", 0L)
          (if (smallPages) w.option("parquet.page.row.count.limit",
            KeyedSidecar.PageRowLimit.toString) else w).parquet(stage)
        }
      }
    })).toMap
    ruled.foreach { case (t, rule) =>
      rule.get match {
        case Relayout(write) =>
          CompactSwap.rewrite(spark, path, t.name)(fresh =>
            write(kept(Parquet.read(spark, t.dir(path))), fresh))
        case DirtyFiles(_) => staged.get(t.name).foreach(_.get.commit())
      }
    }
    dropLog(spark, path)
  }

  /** Per table, the data files holding a logged key: one job over the
    * key column of every table with `input_file_name`, its matches
    * collected once. A root table's read discovers its partition
    * directories; only the key and the file name are selected.
    */
  private def dirtyFiles(spark: SparkSession, path: String, present: Seq[Table],
      holding: DataFrame => DataFrame): Map[String, Seq[Path]] =
    if (present.isEmpty) Map.empty
    else present.map { t =>
      holding(Parquet.read(spark, t.dir(path)).select(col(key), input_file_name().as("f")))
        .select(lit(t.name).as("t"), col("f"))
    }.reduce(_ union _).collect()
      .map(r => r.getString(0) -> r.getString(1)).distinct
      .groupBy(_._1).map { case (t, fs) =>
        t -> fs.map(f => new Path(new java.net.URI(f._2))).toSeq.sortBy(_.toString)
      }
}

object IndexLifecycle {

  /** The logged ids' column in `compact`'s join against them. */
  private val LoggedCol = "_logged_key"

  /** How `compact` rewrites a table, decided from the table on disk. */
  sealed trait Rewrite

  /** Only the files holding a deleted key rewrite, each in place of its
    * own file; `smallPages` writes them with [[KeyedSidecar.PageRowLimit]]
    * pages, the pruning granule of key-sorted files.
    */
  final case class DirtyFiles(smallPages: Boolean) extends Rewrite

  /** The layout must change: `write` materializes the kept rows (a frame)
    * as the whole new table at the fresh path it is given.
    */
  final case class Relayout(write: (DataFrame, String) => Unit) extends Rewrite

  /** Picks a table's [[Rewrite]] from (session, table path). */
  type Rule = (SparkSession, String) => Rewrite

  /** One table of an index: the directory `name` under the index root, or
    * the root itself for the empty name (a partition-discovered layout
    * whose data files are the table: the flat `VectorIndex`, its
    * `ingest_date=` directories). `optional` tables may be missing on
    * legacy layouts.
    */
  final case class Table(name: String,
      rule: Rule = (_, _) => DirtyFiles(smallPages = false), optional: Boolean = false) {
    def dir(path: String): String = CompactSwap.dirOf(path, name)
  }

  /** The log as a table of the index: `<path>/tombstones`. */
  val Inside: String => String = path => s"$path/tombstones"

  /** The log as a sibling of the index root, `<root>._tombstones` — for a
    * partition-discovered layout, where anything inside the root would
    * enter discovery.
    */
  val Beside: String => String = path => path.stripSuffix("/") + "._tombstones"

  /** The rule for a [[KeyedSidecar]] table keyed by `key`: a bucketed table
    * keeps its key-sorted small-page files; a flat one stays flat until it
    * has grown past [[KeyedSidecar.MinPruneBytes]] through appends, and
    * then compaction is where it upgrades to the bucketed layout.
    */
  def keyed(key: String): Rule = (spark, table) =>
    if (KeyedSidecar.isBucketed(spark, table)) DirtyFiles(smallPages = true)
    else if (KeyedSidecar.tableBytesOf(spark, table) >= KeyedSidecar.MinPruneBytes)
      Relayout((kept, fresh) => KeyedSidecar.writeBucketed(kept, key, fresh, SaveMode.ErrorIfExists))
    else DirtyFiles(smallPages = false)
}
