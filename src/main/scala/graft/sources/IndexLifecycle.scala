package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}

/** The point-delete lifecycle every persisted index shares — Lucene's
  * deleted-docs model. Removing a row in place would rewrite every
  * directory it lives in, so `delete` appends the ids to a tombstone log,
  * every serving path anti-joins the log (`dropTombstoned`; the log is
  * bounded by deletes-since-compaction and broadcasts), and `compact`
  * folds it into the layout. The reference can only drop whole days
  * (`faiss_manager.py:151-172`).
  *
  * An index declares, as data: its `key` column, where its `log` lives,
  * and its `tables` in crash-safe rewrite order, each with the writer for
  * its kept rows. `compact` recovers, reads the log once, swaps each table
  * through [[CompactSwap.rewrite]] in the declared order — skipping a table
  * only when it is declared optional (legacy layouts predate it) and
  * absent — and drops the log LAST.
  *
  * Burn order: the id-gate authority table is declared LAST. A crash
  * mid-sequence leaves the earlier tables compacted and the later ones
  * restored on open (`recover`) — consistent either way, because the
  * still-present log masks the restored tables' deleted rows, and a
  * deleted id stays burned in the gate longer, never comes back early.
  * The gate itself reads its table raw, so a deleted id stays burned until
  * `compact`: delete → compact → append is the replacement path.
  */
final case class IndexLifecycle(key: String, log: String => String,
    tables: Seq[IndexLifecycle.Table]) {

  /** Open-time compact-swap crash recovery over the declared tables. Call
    * at the top of every public entry point that reads or writes the index.
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
    tombstones(spark, path).fold(df)(without(df, _))

  private def without(df: DataFrame, ts: DataFrame): DataFrame =
    df.join(broadcast(ts), Seq(key), "left_anti")

  /** Recover; if a log exists, hand it (read once) to `body`, then drop the
    * log last. With no log nothing runs and no table is touched.
    */
  def fold(spark: SparkSession, path: String)(body: DataFrame => Unit): Unit = {
    recover(spark, path)
    tombstones(spark, path).foreach { ts =>
      body(ts)
      val p = new Path(log(path))
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  /** Fold the log: swap each declared table, in order, without the deleted
    * rows. A missing required table fails loudly (its read does).
    */
  def compact(spark: SparkSession, path: String): Unit = fold(spark, path) { ts =>
    tables.foreach { t =>
      val live = s"$path/${t.name}"
      val p = new Path(live)
      if (!t.optional || p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p))
        CompactSwap.rewrite(spark, path, t.name) { fresh =>
          t.write(path, without(Parquet.read(spark, live), ts), fresh)
        }
    }
  }
}

object IndexLifecycle {

  /** Writes a table's kept rows into the fresh sibling directory:
    * (index root, kept rows, fresh path). The target does not exist yet.
    */
  type Writer = (String, DataFrame, String) => Unit

  /** One table of an index; `optional` tables may be missing on legacy layouts. */
  final case class Table(name: String, write: Writer, optional: Boolean = false)

  /** The log as a table of the index: `<path>/tombstones`. */
  val Inside: String => String = path => s"$path/tombstones"

  /** The log as a sibling of the index root, `<root>._tombstones` — for a
    * partition-discovered layout, where anything inside the root would
    * enter discovery.
    */
  val Beside: String => String = path => path.stripSuffix("/") + "._tombstones"

  /** Writer for a [[KeyedSidecar]] table keyed by `key` (size-adaptive:
    * compaction is where a flat table that outgrew the prune threshold via
    * appends upgrades to the bucketed layout).
    */
  def keyed(key: String): Writer =
    (_, kept, fresh) => KeyedSidecar.write(kept, key, fresh, SaveMode.ErrorIfExists)
}
