package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession

/** The crash-safe table swap every persisted index compact uses, plus the
  * open-time recovery that closes its one residual window.
  *
  * The swap (`rewrite`): the compacted table writes into a FRESH sibling
  * directory (`<table>._compact`), the live directory is staged aside to
  * `<table>._old`, the fresh one renames into place, and the staged copy
  * drops. The live directory is never a write target, so a crash during
  * the (long) rewrite job loses nothing. What remains is the two-rename
  * metadata window: a writer dying between "live → ._old" and
  * "._compact → live" leaves NO live directory — readers fail, and before
  * this helper existed the only copies were a `._old` the next compact's
  * dead-writer sweep would have deleted.
  *
  * The recovery (`recover`): on open, live missing + `._old` present →
  * rename `._old` back. The crash happened before the fresh table landed,
  * so `._old` IS the authoritative pre-compact state, and the tombstone
  * log — dropped only after every table swaps — is still present, keeping
  * the pending deletes masked on read (conservative failure: the compact
  * is undone, never half-applied). The OTHER crash point — live present
  * with `._old` or `._compact` leftovers (died before the cleanup
  * deletes) — needs no recovery; the next compact sweeps them. Idempotent
  * and cheap: one exists() per table, metadata-only.
  *
  * Which tables swap, in what order, and when the tombstone log drops is
  * [[IndexLifecycle]]'s job.
  */
object CompactSwap {

  /** Restore any table whose live directory vanished in a compact-swap
    * crash. Call at the top of every public entry point that reads or
    * writes the index ("on open").
    */
  def recover(spark: SparkSession, base: String, tables: Seq[String]): Unit = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    tables.foreach { t =>
      val live = new Path(s"$base/$t")
      val old = new Path(s"$base/$t._old")
      if (!fs.exists(live) && fs.exists(old))
        require(fs.rename(old, live), s"swap recovery: cannot restore $t at $base")
    }
  }

  /** The swap for tables living INSIDE a partition-discovered layout (a
    * date-partitioned store's `ingest_date=…` directories): staging
    * siblings are DOT-PREFIXED (`.{table}._compact` / `.{table}._old`)
    * because Spark's file index skips hidden names, while an un-hidden
    * `ingest_date=X._old` would itself parse as a partition directory and
    * corrupt discovery for every concurrent reader.
    */
  def rewriteHidden(spark: SparkSession, base: String, table: String)(write: String => Unit): Unit =
    swap(spark, base, table, s".$table")(write)

  /** `recover` for `rewriteHidden` layouts, where table names are dynamic:
    * restore EVERY `.{table}._old` sibling whose live directory vanished.
    * Returns the listing of `base` after recovery (empty when `base` is
    * missing): one directory listing, a second only when something was
    * restored.
    */
  def recoverAllHidden(spark: SparkSession, base: String): Seq[FileStatus] = {
    val basePath = new Path(base)
    val fs = basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(basePath)) return Seq.empty
    val listed = fs.listStatus(basePath).toSeq
    val restored = listed
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(".") &&
        st.getPath.getName.endsWith("._old"))
      .filter { st =>
        val live = new Path(basePath,
          st.getPath.getName.stripPrefix(".").stripSuffix("._old"))
        !fs.exists(live) && {
          require(fs.rename(st.getPath, live),
            s"swap recovery: cannot restore ${live.getName} at $base")
          true
        }
      }
    if (restored.isEmpty) listed else fs.listStatus(basePath).toSeq
  }

  /** The swap itself: `write` receives the fresh sibling's path and must
    * fully materialize the compacted table there (ErrorIfExists mode —
    * leftovers are swept first).
    */
  def rewrite(spark: SparkSession, base: String, table: String)(write: String => Unit): Unit =
    swap(spark, base, table, table)(write)

  /** The one swap body; `staged` names the `._compact`/`._old` siblings. */
  private def swap(spark: SparkSession, base: String, table: String, staged: String)(
      write: String => Unit): Unit = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = new Path(s"$base/$staged._compact")
    val live = new Path(s"$base/$table")
    val old = new Path(s"$base/$staged._old")
    fs.delete(fresh, true); fs.delete(old, true) // dead-writer leftovers
    write(fresh.toString)
    require(fs.rename(live, old), s"compact: cannot stage $table aside at $base")
    require(fs.rename(fresh, live), s"compact: cannot swap $table into place at $base")
    fs.delete(old, true)
    // the swap changed the live path's contents without a write() on it
    KeyedSidecar.invalidateSize(s"$base/$table")
    KeyedSidecar.invalidateSize(fresh.toString)
  }
}
