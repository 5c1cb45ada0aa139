package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.{LocalFrame, Parquet}
import graft.vector.{HashingEmbedder, IndexPipeline, VectorIndex}

/** The flat vector index's deletes, compaction and retention. Its
  * compaction rewrites only the files that hold a deleted id; what every
  * reader of the index sees must be what the whole-day rewrite it replaces
  * gave, bit for bit.
  */
class FlatIndexSpec extends SparkSpec {
  import spark.implicits._

  private val embedder = new HashingEmbedder()
  private val K = 6

  private def tmp(tag: String) = Files.createTempDirectory(tag).toString + "/idx"
  private def day(d: Int) = Date.valueOf(java.time.LocalDate.of(2024, 3, d))
  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Fixture documents with pairwise distinct embeddings, so (d2, vec_id)
    * ties never pick between two payloads.
    */
  private lazy val docs = {
    val rows = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("text").isNotNull).orderBy("doc_id").collect().toSeq
    rows.groupBy(r => embedder.embedText(r.getString(1)).toSeq).values
      .map(_.minBy(_.getLong(0))).toSeq.sortBy(_.getLong(0))
  }
  private lazy val docSchema = Tables.documents(spark, sf).select("doc_id", "text").schema

  /** Page `i` of the documents as index rows on `d`, one file: vec_id is the
    * doc_id, so ids are unique across pages.
    */
  private def page(i: Int, d: Date, n: Int = 10): DataFrame =
    LocalFrame.of(spark, docSchema, docs.slice(i * n, i * n + n))
      .select(col("doc_id").as("vec_id"), embedder.embedCol(col("text")).as("embedding"),
        lit("doc").as("data_type"), to_json(struct(col("doc_id"), col("text"))).as("data_json"),
        lit(d).as("ingest_date"))
      .coalesce(1)

  private def idOf(i: Int): Long = docs(i).getLong(0)

  /** The whole-day compaction the flat index ran before its root became a
    * lifecycle table: every day directory holding a logged id is written
    * again without the logged rows, into a hidden sibling, and swapped in;
    * then the log drops.
    */
  private def dayCompact(dir: String): Unit = {
    val log = new Path(VectorIndex.Lifecycle.log(dir))
    val ts = Parquet.read(spark, log.toString).select("vec_id").distinct().localCheckpoint(true)
    val days = Parquet.read(spark, dir).select(col("vec_id"), col("ingest_date"))
      .join(broadcast(ts), "vec_id").select(date_format(col("ingest_date"), "yyyy-MM-dd"))
      .distinct().as[String].collect()
    days.foreach { d =>
      val live = new Path(s"$dir/ingest_date=$d")
      val fresh = new Path(s"$dir/.ingest_date=$d._compact")
      Parquet.read(spark, live.toString).join(broadcast(ts), Seq("vec_id"), "left_anti")
        .write.parquet(fresh.toString)
      fs.delete(live, true)
      assert(fs.rename(fresh, live))
    }
    fs.delete(log, true)
  }

  /** What readers see: the newest day, the retained vec_ids, and the
    * search tool's single and batch top-k as JSON.
    */
  private def observe(dir: String, probes: Seq[String]): Seq[String] = {
    val anchor = VectorIndex.maxIngestDate(spark, dir)
    val ids = VectorIndex.loadRecent(spark, dir, anchor.orNull).select("vec_id").as[Long]
      .collect().sorted
    val queries = probes.zipWithIndex.map { case (p, i) => (i.toLong, p) }
      .toDF("query_id", "query_text")
    Seq(s"maxIngestDate $anchor", ids.mkString("loadRecent ", ",", "")) ++
      probes.map(p => IndexPipeline.searchIndex(spark, dir, p, K).toJSON.collect()
        .mkString(s"$p: ", ",", "")) ++
      IndexPipeline.searchIndexBatch(spark, dir, queries, K).orderBy("query_id", "rank")
        .toJSON.collect()
  }

  test("append, delete, compact and a day-emptying compact read as the whole-day rewrite did") {
    val (dir, ref) = (tmp("graft-flat-new"), tmp("graft-flat-ref"))
    val probes = Seq(docs(3).getString(1), docs(12).getString(1), docs(31).getString(1),
      docs(44).getString(1), "spark table index")
    def both(f: String => Unit): Unit = Seq(dir, ref).foreach(f)
    def same(at: String): Unit = {
      val (got, want) = (observe(dir, probes), observe(ref, probes))
      assert(got == want, s"after $at")
    }
    // two files on day 1, one on day 2, one on day 3 (the newest)
    both(d => Seq(0 -> day(1), 1 -> day(1), 2 -> day(2), 3 -> day(3))
      .foreach { case (i, at) => VectorIndex.append(page(i, at), d) })
    same("append")
    both(VectorIndex.delete(spark, _, Seq(idOf(3), idOf(21), idOf(31)).toDF("vec_id")))
    same("delete")
    VectorIndex.compact(spark, dir)
    dayCompact(ref)
    assert(!VectorIndex.Lifecycle.logged(spark, dir))
    same("compact")
    both(d => VectorIndex.append(page(4, day(2)), d))
    same("append after compact")
    // every remaining row of the newest day, and one of day 1
    val day3 = (30 until 40).map(idOf).filterNot(_ == idOf(31))
    both(VectorIndex.delete(spark, _, (day3 :+ idOf(12)).toDF("vec_id")))
    same("delete")
    VectorIndex.compact(spark, dir)
    dayCompact(ref)
    same("a compact that empties the newest day")
    assert(VectorIndex.maxIngestDate(spark, dir) == Some(day(3)),
      "the emptied day is still the newest")
    assert(VectorIndex.loadRecent(spark, dir, day(3))
      .filter(col("ingest_date") === day(3)).count() == 0)
  }

  test("retain drops only the expired days; a null day's directory is no day") {
    val dir = tmp("graft-flat-retain")
    Seq(0 -> day(1), 1 -> day(5), 2 -> day(10)).foreach { case (i, at) =>
      VectorIndex.append(page(i, at), dir) }
    VectorIndex.append(page(3, day(10)).withColumn("ingest_date", lit(null).cast("date")), dir)
    assert(fs.exists(new Path(s"$dir/ingest_date=__HIVE_DEFAULT_PARTITION__")))
    assert(VectorIndex.retain(spark, dir, day(10)) == Seq("ingest_date=2024-03-01"))
    assert(fs.exists(new Path(s"$dir/ingest_date=__HIVE_DEFAULT_PARTITION__")))
    assert(VectorIndex.loadRecent(spark, dir, day(10)).select("vec_id").as[Long].collect().toSet ==
      (10 until 30).map(idOf).toSet)
  }

  test("retain finishes a compact crashed at any write boundary before it drops a day") {
    CrashFs.install(spark)
    val base = Files.createTempDirectory("graft-flat-crash").toString
    // day 1 expires at day 10; both days hold a deleted id
    val deleted = Seq(idOf(2), idOf(15))
    val kept = (10 until 20).map(idOf).toSet - idOf(15)
    def build(name: String): String = {
      val dir = CrashFs.path(s"$base/$name")
      VectorIndex.append(page(0, day(1)), dir)
      VectorIndex.append(page(1, day(9)), dir)
      VectorIndex.delete(spark, dir, deleted.toDF("vec_id"))
      dir
    }
    def roots(dir: String) = Seq(dir, VectorIndex.Lifecycle.log(dir))
    val ref = build("ref")
    CrashFs.arm(roots(ref), Int.MaxValue)
    VectorIndex.compact(spark, ref)
    val n = CrashFs.disarm(roots(ref))
    assert(n >= 5, s"only $n boundaries")
    spark.sparkContext.setLogLevel("OFF")
    try (1 to n).foreach { k =>
      val dir = build(s"k$k")
      CrashFs.arm(roots(dir), k)
      val crashed = scala.util.Try(VectorIndex.compact(spark, dir))
      CrashFs.disarm(roots(dir))
      assert(crashed.isFailure, s"no crash at $k/$n")
      assert(VectorIndex.retain(spark, dir, day(10)) == Seq("ingest_date=2024-03-01"),
        s"at $k/$n")
      def ids =
        VectorIndex.loadRecent(spark, dir, day(10)).select("vec_id").as[Long].collect().toSet
      assert(ids == kept, s"crashed at $k/$n")
      VectorIndex.compact(spark, dir)
      assert(ids == kept && !VectorIndex.Lifecycle.logged(spark, dir), s"retried at $k/$n")
      val left = fs.listStatus(new Path(s"$base/k$k")).map(_.getPath.getName)
        .filter(_.startsWith("."))
      assert(left.isEmpty, s"the retry at $k/$n left ${left.mkString(", ")}")
    } finally spark.sparkContext.setLogLevel("WARN")
  }
}
