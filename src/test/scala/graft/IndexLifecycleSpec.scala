package graft

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{IndexLifecycle, Parquet}
import graft.sources.IndexLifecycle.Table

/** The shared point-delete lifecycle, driven directly on tiny tables: the
  * declared rewrite order, the drop-last log, a writer dying mid-sequence,
  * the no-log fast path, legacy-optional tables — then each index family's
  * declaration, and a source guard that keeps the mechanism in one place.
  */
class IndexLifecycleSpec extends SparkSpec {

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-lc-$tag").toString

  /** Three tables of ids 0..9 — `a`, `b` and the id gate `gate` — and a
    * lifecycle whose table rules log (table, log present) as they run and
    * throw for any table named in `failOn`.
    */
  private class Fixture(optionalB: Boolean = false) {
    import spark.implicits._
    val dir = tmp("fx")
    val names = Seq("a", "b", "gate")
    names.foreach(t => (0L until 10L).toDF("id").write.parquet(s"$dir/$t"))
    val calls = ArrayBuffer.empty[(String, Boolean)]
    var failOn = Set.empty[String]
    private def rule(t: String): IndexLifecycle.Rule = (_, _) => {
      calls += t -> logExists
      if (failOn(t)) throw new IllegalStateException(s"writer $t dies")
      IndexLifecycle.DirtyFiles(smallPages = false)
    }
    val lc: IndexLifecycle = IndexLifecycle("id", IndexLifecycle.Inside, Seq(
      Table("a", rule("a")), Table("b", rule("b"), optional = optionalB),
      Table("gate", rule("gate"))))
    def ids(t: String): Set[Long] =
      Parquet.read(spark, s"$dir/$t").collect().map(_.getLong(0)).toSet
    def served(t: String): Set[Long] =
      lc.dropTombstoned(spark, dir, Parquet.read(spark, s"$dir/$t"))
        .collect().map(_.getLong(0)).toSet
    def logExists: Boolean = fs.exists(new Path(s"$dir/tombstones"))
    def delete(xs: Long*): Unit = lc.delete(spark, dir, xs.toDF("id"))
  }

  private val all = (0L until 10L).toSet

  test("compact runs the writers in declared order and drops the log only after the last") {
    val f = new Fixture
    f.delete(3L, 7L)
    f.delete(3L) // a repeated id is one tombstone
    assert(f.lc.tombstones(spark, f.dir).get.count() == 2L)
    f.names.foreach(t => assert(f.served(t) == all -- Set(3L, 7L)))
    f.lc.compact(spark, f.dir)
    assert(f.calls.toSeq == Seq("a" -> true, "b" -> true, "gate" -> true))
    assert(!f.logExists && f.lc.tombstones(spark, f.dir).isEmpty)
    f.names.foreach(t => assert(f.ids(t) == all -- Set(3L, 7L), s"$t folded"))
    assert(fs.listStatus(new Path(f.dir)).map(_.getPath.getName).sorted.toSeq == f.names,
      "no staging, journal or swap sibling is left")
  }

  test("a gate writer that throws: earlier tables swapped, log kept, ids masked and burned; next compact completes") {
    val f = new Fixture
    f.delete(4L)
    f.failOn = Set("gate")
    intercept[IllegalStateException](f.lc.compact(spark, f.dir))
    assert(f.ids("a") == all - 4L && f.ids("b") == all - 4L, "earlier tables swapped")
    assert(f.logExists, "the log must outlive a failed gate swap")
    assert(f.ids("gate") == all, "the deleted id stays burned in the gate")
    f.names.foreach(t => assert(f.served(t) == all - 4L, s"$t still masks the deleted id"))
    f.failOn = Set.empty
    f.calls.clear()
    f.lc.compact(spark, f.dir)
    assert(f.calls.map(_._1).toSeq == f.names)
    assert(!f.logExists)
    f.names.foreach(t => assert(f.ids(t) == all - 4L))
  }

  test("with no log, compact starts no Spark job and touches no table") {
    val f = new Fixture
    def listing = fs.listStatus(new Path(f.dir)).map(s => s.getPath.getName -> s.getModificationTime).toMap
    val before = listing
    val (_, jobs) = JobCounter(spark)(f.lc.compact(spark, f.dir))
    assert(jobs == 0, s"no-log compact ran $jobs jobs")
    assert(f.calls.isEmpty && listing == before)
  }

  test("a missing required table fails; a missing optional table is skipped") {
    val f = new Fixture
    f.delete(1L)
    fs.delete(new Path(s"${f.dir}/b"), true)
    intercept[Exception](f.lc.compact(spark, f.dir))
    assert(f.logExists, "a failed compact keeps the log")
    val g = new Fixture(optionalB = true)
    g.delete(1L)
    fs.delete(new Path(s"${g.dir}/b"), true)
    g.lc.compact(spark, g.dir)
    assert(g.calls.map(_._1).toSeq == Seq("a", "gate"))
    assert(!fs.exists(new Path(s"${g.dir}/b")) && !g.logExists)
    assert(g.ids("a") == all - 1L && g.ids("gate") == all - 1L)
  }

  test("every family's dropTombstoned broadcasts its log into a left-anti join") {
    import spark.implicits._
    def families: Seq[(String, IndexLifecycle, (String, DataFrame) => Unit, String => String)] = Seq(
      ("VectorIndex", graft.vector.VectorIndex.Lifecycle, graft.vector.VectorIndex.delete(spark, _, _),
        _.stripSuffix("/") + "._tombstones"),
      ("IvfIndex", graft.vector.IvfIndex.Lifecycle, graft.vector.IvfIndex.delete(spark, _, _),
        p => s"$p/tombstones"),
      ("LshIndex", graft.text.LshIndex.Lifecycle, graft.text.LshIndex.delete(spark, _, _),
        p => s"$p/tombstones"),
      ("InvertedIndex", graft.text.InvertedIndex.Lifecycle, graft.text.InvertedIndex.delete(spark, _, _),
        p => s"$p/tombstones"),
      ("Hash64Index", graft.multimodal.Hash64Index.Lifecycle,
        graft.multimodal.Hash64Index.delete(spark, _, _), p => s"$p/tombstones"))
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    // without auto-broadcast only an explicit hint yields a broadcast join
    spark.conf.set(key, "-1")
    try families.foreach { case (name, lc, delete, logAt) =>
      val dir = tmp(name) + "/idx"
      delete(dir, Seq(2L, 5L).toDF(lc.key))
      assert(fs.exists(new Path(logAt(dir))), s"$name: log not at ${logAt(dir)}")
      val served = lc.dropTombstoned(spark, dir, (0L until 8L).toDF(lc.key))
      val plan = served.queryExecution.executedPlan.toString
      assert("""BroadcastHashJoin [^\n]*LeftAnti""".r.findFirstIn(plan).nonEmpty,
        s"$name: no broadcast left-anti join:\n$plan")
      assert(served.collect().map(_.getLong(0)).toSet == (0L until 8L).toSet -- Set(2L, 5L))
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("src/main keeps the tombstone lifecycle in sources/IndexLifecycle.scala only") {
    // a per-index copy needs one of: its own tombstones/dropTombstoned, a
    // path literal naming a log (every write or fs.delete of one), or the
    // lifecycle's log location used directly
    val copies = Seq(
      """\bdef\s+(tombstones|dropTombstoned)\s*[\[(]""".r,
      """"[^"\n]*tombstones[^"\n]*"""".r,
      """Lifecycle\s*\.\s*log\s*\(""".r)
    val home = java.nio.file.Paths.get("src/main/scala/graft/sources/IndexLifecycle.scala")
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator().asScala.toList finally s.close()
    }.filter(_.toString.endsWith(".scala"))
    assert(files.size > 50, s"scan found only ${files.size} sources")
    assert(files.exists(_.normalize() == home.normalize()), s"$home not found")
    val found = files.filterNot(_.normalize() == home.normalize()).flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      copies.flatMap(_.findAllMatchIn(text)).map { m =>
        s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
    assert(found.isEmpty,
      s"delete/tombstones/compact go through graft.sources.IndexLifecycle:\n${found.mkString("\n")}")
  }
}
