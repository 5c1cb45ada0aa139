package graft

import java.io.IOException
import java.net.URI
import java.util.EnumSet
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local filesystem on the private scheme `crashfs` (`crashfs:///tmp/x`
  * is `/tmp/x`), which counts the mutating calls (create, rename, delete,
  * mkdirs) made on or under an armed root and throws on the k-th: a crash at
  * every write boundary of whatever runs there.
  *
  * Boundaries: every mutating call outside a staging directory — a path
  * strictly under a directory named `*._stage` or `*._compact`, which no
  * reader lists — plus one inside each staged write, the first create
  * under its staging directory, or under its numbered group directory in
  * one (a task's output file). Calls a mutating
  * call makes internally (a create's parent mkdirs) are one boundary with
  * it. Each armed set of roots keeps its own count, so indexes under
  * different roots run concurrently.
  */
class CrashFs extends RawLocalFileSystem {
  override def getScheme: String = CrashFs.Scheme
  override def getUri: URI = URI.create(s"${CrashFs.Scheme}:///")

  private def step[T](isCreate: Boolean, paths: Path*)(body: => T): T =
    CrashFs.step(isCreate, paths)(body)

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    step(isCreate = true, f)(super.create(f, overwrite, bufferSize, replication, blockSize, progress))

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    step(isCreate = true, f)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission, flags: EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    step(isCreate = true, f)(super.createNonRecursive(f, permission, flags, bufferSize,
      replication, blockSize, progress))

  override def rename(src: Path, dst: Path): Boolean =
    step(isCreate = false, src, dst)(super.rename(src, dst))

  override def delete(p: Path, recursive: Boolean): Boolean =
    step(isCreate = false, p)(super.delete(p, recursive))

  override def mkdirs(p: Path, permission: FsPermission): Boolean =
    step(isCreate = false, p)(super.mkdirs(p, permission))

  override def mkdirs(p: Path): Boolean =
    step(isCreate = false, p)(super.mkdirs(p))
}

object CrashFs {
  val Scheme = "crashfs"

  /** Register the scheme on the session's Hadoop configuration. */
  def install(spark: org.apache.spark.sql.SparkSession): Unit =
    spark.sparkContext.hadoopConfiguration.set(s"fs.$Scheme.impl", classOf[CrashFs].getName)

  /** `local` as a path on this filesystem. */
  def path(local: String): String = s"$Scheme://$local"

  private final class Armed(val crashAt: Int) {
    var count = 0
    val stagedWrites = scala.collection.mutable.Set.empty[String]
  }

  // root directory (local path) → its armed state; guarded by `armed`
  private val armed = scala.collection.mutable.Map.empty[String, Armed]
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  /** Count boundaries under `roots` (an index root, and its tombstone log
    * when that lives beside it) from now on, in one count, crashing at the
    * `crashAt`-th (1-based; `Int.MaxValue` only counts).
    */
  def arm(roots: Seq[String], crashAt: Int): Unit = armed.synchronized {
    val a = new Armed(crashAt)
    roots.foreach(r => armed(local(r)) = a)
  }

  /** Stop counting under `roots`; the boundaries counted while armed. */
  def disarm(roots: Seq[String]): Int = armed.synchronized(
    roots.flatMap(r => armed.remove(local(r))).headOption.fold(0)(_.count))

  private def local(root: String): String = new Path(root).toUri.getPath.stripSuffix("/")

  /** The staged write's directory `p` lies strictly under, if any: a
    * staging directory, or a numbered group directory in one (a compaction
    * that stages one write per column set).
    */
  private def stagedUnder(p: Path): Option[String] = {
    val parts = p.toUri.getPath.split('/')
    val i = parts.dropRight(1).indexWhere(n => n.endsWith("._stage") || n.endsWith("._compact"))
    val group = i >= 0 && i + 2 < parts.length && parts(i + 1).nonEmpty &&
      parts(i + 1).forall(_.isDigit)
    if (i < 0) None else Some(parts.take(if (group) i + 2 else i + 1).mkString("/"))
  }

  private def step[T](isCreate: Boolean, paths: Seq[Path])(body: => T): T = {
    val outer = depth.get == 0
    if (outer) armed.synchronized {
      val p = paths.head.toUri.getPath
      armed.find { case (r, _) => p == r || p.startsWith(r + "/") }.foreach { case (_, a) =>
        val stages = paths.map(stagedUnder)
        val counts =
          if (stages.exists(_.isEmpty)) true
          else isCreate && a.stagedWrites.add(stages.head.get)
        if (counts) {
          a.count += 1
          if (a.count == a.crashAt) throw new IOException(s"injected crash at boundary ${a.count}: ${
            paths.mkString(" -> ")}")
        }
      }
    }
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }
}
