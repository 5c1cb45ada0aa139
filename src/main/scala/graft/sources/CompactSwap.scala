package graft.sources

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** The crash-safe commits every persisted index compact uses, plus the
  * open-time recovery that closes their windows.
  *
  * The file commit (`stageFiles`, then its `commit`), which every
  * tombstoned index's `compact` runs through [[IndexLifecycle.compact]]:
  * only the files that hold a deleted key are replaced. Their
  * replacements are written into a hidden staging directory
  * (`.<table>._stage`), then the table commits through a hidden
  * roll-forward journal (`.<table>._journal`, written as `.._journal.tmp`
  * and renamed, so it is never read torn) listing each replaced file with
  * its replacement: the replacements rename into the replaced files'
  * directories, the replaced files drop, then the staging directory and
  * the journal drop. A table named by the empty name is the index root
  * itself (the flat `VectorIndex`'s `ingest_date=` layout): its staging
  * and journal are `<root>/._stage` and `<root>/._journal`, hidden names
  * that partition discovery skips.
  * Before the journal exists nothing visible has changed; once it exists,
  * `recover` finishes the commit. Untouched files keep their path, length
  * and mtime, so the readers that hold files on the driver
  * ([[ResidentFiles]]) keep holding them.
  *
  * The table swap (`rewrite`), for a rewrite of a whole directory: a
  * compaction that changes the layout (`IndexLifecycle.Relayout`),
  * `IvfIndex.retrain` and `ParagraphIndex.delete`. The
  * compacted table writes into a FRESH sibling directory
  * (`<table>._compact`), the live directory is staged aside to
  * `<table>._old`, the fresh one renames into place, and the staged copy
  * drops. The live directory is never a write target, so a crash during
  * the (long) rewrite job loses nothing. What remains is the two-rename
  * metadata window: a writer dying between "live → ._old" and
  * "._compact → live" leaves NO live directory.
  *
  * The recovery (`recover`): a journal rolls forward; live missing +
  * `._old` present → rename `._old` back. The crash happened before the
  * fresh table landed, so `._old` IS the authoritative pre-compact state,
  * and the tombstone log — dropped only after every table commits — is
  * still present, keeping the pending deletes masked on read
  * (conservative failure: the compact is undone, never half-applied).
  * Leftover staging, `._old` or `._compact` siblings next to a live table
  * need no recovery; the next compact sweeps them. Idempotent and cheap:
  * two exists() per table, metadata-only.
  *
  * Which tables commit, in what order, and when the tombstone log drops is
  * [[IndexLifecycle]]'s job.
  */
object CompactSwap {

  /** Finish any table's journaled file commit, and restore any table whose
    * live directory vanished in a swap crash. Call at the top of every
    * public entry point that reads or writes the index ("on open").
    */
  def recover(spark: SparkSession, base: String, tables: Seq[String]): Unit = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    tables.foreach { t =>
      val journal = journalOf(base, t)
      if (fs.exists(journal)) rollForward(fs, base, t, readJournal(fs, journal))
      val live = new Path(dirOf(base, t))
      val old = new Path(s"$base/$t._old")
      if (!fs.exists(live) && fs.exists(old))
        require(fs.rename(old, live), s"swap recovery: cannot restore $t at $base")
    }
  }

  /** The directory of `table` under `base`: the empty name is `base`
    * itself, an index whose root is its one table.
    */
  private[sources] def dirOf(base: String, table: String): String =
    if (table.isEmpty) base else s"$base/$table"

  /** Stage replacements for the dirty data files of `base/table`, given in
    * `groups` (files that one write can hold: the same columns). `write`
    * receives a group and a staging path and must write there, in one job,
    * output part `i` (the `part-0000i-` file Spark names after its task)
    * with the kept rows of the group's file `i`, as ONE file: a part split
    * across files (a write under a `maxRecordsPerFile` cap) fails the
    * staging loudly. One group writes into the staging directory itself;
    * several write into its numbered subdirectories, one each. A part with
    * no kept rows replaces its file with nothing. Spark writes part 0 of
    * each write even when it holds no rows; such an empty file is dropped,
    * except when no staged file holds a row, where the first one stays to
    * keep the table's schema on disk in case every dirty file was its last.
    * Nothing visible changes until the returned commit runs: each
    * replacement lands in its replaced file's directory under the part's
    * own (unique) name, through the journal.
    */
  def stageFiles(spark: SparkSession, base: String, table: String, groups: Seq[Seq[Path]])(
      write: (Seq[Path], String) => Unit): Staged = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = stageOf(base, table)
    val tmp = journalOf(base, table).suffix(".tmp")
    Seq(stage, tmp).foreach(p => if (fs.exists(p)) fs.delete(p, true)) // dead-writer leftovers
    // each group's directory, and its prefix in a journaled name
    val dirs = if (groups.size == 1) Seq(stage -> "")
      else groups.indices.map(j => new Path(stage, j.toString) -> s"$j/")
    // (dirty file, its part number, the staged name, the staged file)
    val staged = groups.zip(dirs).flatMap { case (dirty, (dir, prefix)) =>
      write(dirty, dir.toString)
      val parts = fs.listStatus(dir).toSeq
        .flatMap(st => PartFile.findFirstMatchIn(st.getPath.getName).map(_.group(1).toInt -> st))
        .groupBy(_._1).map { case (i, sts) =>
          require(sts.size == 1,
            s"compact: part $i of ${dirOf(base, table)} staged as ${sts.size} files")
          i -> sts.head._2
        }
      require(parts.keys.forall(_ < dirty.size),
        s"compact: stray staged part for ${dirOf(base, table)}")
      parts.toSeq.sortBy(_._1).map { case (i, st) => (dirty(i), i, prefix + st.getPath.getName, st) }
    }
    val empty = staged.filter { case (_, i, _, st) =>
      i == 0 && staged.size > 1 && rowCount(fs, st) == 0 }
    val kept = (if (empty.size == staged.size) staged.take(1) else staged.diff(empty))
      .map { case (old, _, name, _) => old -> name }.toMap
    val root = fs.makeQualified(new Path(base)).toUri.getPath.stripSuffix("/") + "/"
    new Staged(fs, base, table, groups.flatten.map { old =>
      val path = old.toUri.getPath
      require(path.startsWith(root), s"compact: $old is not under $base")
      Entry(path.stripPrefix(root), kept.get(old))
    })
  }

  private def rowCount(fs: FileSystem, file: FileStatus): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(file, fs.getConf))
    try reader.getRecordCount finally reader.close()
  }

  /** A table's staged replacements. `commit` writes the journal (as
    * `.._journal.tmp`, renamed, so it is never read torn) and rolls it
    * forward. The journal names files relative to the index base, so a
    * copied or moved index still recovers.
    */
  final class Staged private[CompactSwap] (fs: FileSystem, base: String, table: String,
      entries: Seq[Entry]) {
    def commit(): Unit = {
      val journal = journalOf(base, table)
      val tmp = journal.suffix(".tmp")
      val out = fs.create(tmp, true)
      try out.write(entries.map(e => (e.old +: e.fresh.toSeq).mkString("\t"))
        .mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
      require(fs.rename(tmp, journal),
        s"compact: cannot commit the journal of ${dirOf(base, table)}")
      rollForward(fs, base, table, entries)
    }
  }

  /** One replaced file, relative to the index base, and its staged
    * replacement relative to the staging directory (its name, or
    * `<group>/<name>`), None when no row of it is kept.
    */
  private[CompactSwap] final case class Entry(old: String, fresh: Option[String])

  private val PartFile = """^part-(\d+)-.*\.parquet$""".r

  private def stageOf(base: String, table: String) = new Path(s"$base/.$table._stage")
  private def journalOf(base: String, table: String) = new Path(s"$base/.$table._journal")

  private def readJournal(fs: FileSystem, journal: Path): Seq[Entry] = {
    val in = fs.open(journal)
    val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
    text.split("\n").toSeq.filter(_.nonEmpty).map(_.split("\t") match {
      case Array(old) => Entry(old, None)
      case Array(old, fresh) => Entry(old, Some(fresh))
      case other => throw new IllegalStateException(
        s"compact journal $journal: bad entry ${other.mkString(" ")}")
    })
  }

  /** The journaled commit, from any point it may have stopped at: make
    * every replacement visible, drop every replaced file, then the staging
    * directory, then the journal. A replacement found neither staged nor
    * in place fails loudly before any replaced file drops.
    */
  private def rollForward(fs: FileSystem, base: String, table: String,
      entries: Seq[Entry]): Unit = {
    val stage = stageOf(base, table)
    val olds = entries.map(e => new Path(s"$base/${e.old}"))
    entries.zip(olds).foreach { case (e, old) => e.fresh.foreach { name =>
      val staged = new Path(stage, name)
      val fin = new Path(old.getParent, staged.getName)
      if (fs.exists(staged))
        require(fs.rename(staged, fin), s"compact: cannot place $fin at $base")
      else require(fs.exists(fin), s"compact: replacement $fin of ${dirOf(base, table)} is lost")
    }}
    olds.foreach(fs.delete(_, false))
    fs.delete(stage, true)
    fs.delete(journalOf(base, table), false)
    // the commit changed the table without a write() on its path
    KeyedSidecar.invalidateSize(dirOf(base, table))
  }

  /** The swap itself: `write` receives the fresh sibling's path and must
    * fully materialize the compacted table there (ErrorIfExists mode —
    * leftovers are swept first).
    */
  def rewrite(spark: SparkSession, base: String, table: String)(write: String => Unit): Unit = {
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val fresh = new Path(s"$base/$table._compact")
    val live = new Path(s"$base/$table")
    val old = new Path(s"$base/$table._old")
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
