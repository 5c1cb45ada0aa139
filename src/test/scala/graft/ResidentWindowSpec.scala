package graft

import java.sql.Date
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.api.GraftApi
import graft.sources.{LocalFrame, ResidentFiles}
import graft.vector.{HashingEmbedder, IndexPipeline, VectorIndex}

/** The search tool's driver-resident window: through appends by the index
  * leg and by other writers, retention, a delete, a compact and a past
  * `asOf`, `searchData` answers bit for bit what the partition-pruned scan
  * answers, and it runs a Spark job only to read files it does not hold.
  */
class ResidentWindowSpec extends SparkSpec {
  import spark.implicits._

  private val embedder = new HashingEmbedder()
  private val K = 8

  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString + "/idx"
  private def day(d: Int) = Date.valueOf(java.time.LocalDate.of(2024, 3, d))

  /** Fixture documents with pairwise distinct embeddings: a tie on
    * (d2, vec_id) between two payloads has no defined order on either path.
    */
  private lazy val docs = {
    val rows = Tables.documents(spark, sf).select("doc_id", "text")
      .filter(col("text").isNotNull).orderBy("doc_id").collect().toSeq
    rows.groupBy(r => embedder.embedText(r.getString(1)).toSeq).values
      .map(_.minBy(_.getLong(0))).toSeq.sortBy(_.getLong(0))
  }
  private lazy val docSchema = Tables.documents(spark, sf).select("doc_id", "text").schema

  /** Page `i` of the documents as the read tools pass it: driver-local. */
  private def page(i: Int, n: Int = 10): DataFrame =
    LocalFrame.of(spark, docSchema, docs.slice(i * n, i * n + n))

  private def bits(hits: Seq[GraftApi.SearchHit]) =
    hits.map(h => (h.rank, java.lang.Double.doubleToRawLongBits(h.similarity_score),
      h.data_type, h.data_json))

  private def scanBits(dir: String, text: String, anchor: Date) = {
    val scan = VectorIndex.search(VectorIndex.loadRecent(spark, dir, anchor),
      embedder.embedText(text).toSeq, K)
    assert(IndexPipeline.searchIndex(spark, dir, text, K, anchor).schema == scan.schema)
    bits(scan.as[GraftApi.SearchHit].collect().toSeq)
  }

  /** searchIndex's hits, collected typed: what searchData must return. */
  private def typed(dir: String, text: String, asOf: Date) =
    bits(IndexPipeline.searchIndex(spark, dir, text, K, asOf).as[GraftApi.SearchHit].collect().toSeq)

  /** searchData for each probe ≡ searchIndex collected typed ≡ the scan at
    * `anchor`; the Spark jobs and SQL executions the searches ran, in total.
    */
  private def same(dir: String, probes: Seq[String], anchor: Date,
      asOf: Date = null): (Int, Int) = {
    val (got, jobs, sqls) = JobCounter.withSql(spark)(
      probes.map(p => bits(GraftApi.searchData(spark, dir, p, K, asOf).results)))
    probes.zip(got).foreach { case (p, g) =>
      assert(g.nonEmpty, s"no hits for '$p'")
      assert(g == typed(dir, p, asOf), s"searchData differs from searchIndex for '$p'")
      assert(g == scanBits(dir, p, anchor), s"searchData differs from the scan for '$p'")
    }
    (jobs, sqls)
  }

  private val Held = (0, 0)

  private def text(i: Int) = docs(i).getString(1)

  test("searchData ≡ the scan through appends, retain, an external append, delete, compact and asOf") {
    val dir = tmp("graft-resident")
    val probes = Seq(text(3), text(14), text(25), "spark table index", text(47))

    // index-leg pages on three days: each search reads nothing back
    (1 to 3).foreach { d =>
      IndexPipeline.indexRecords(page(d - 1), "text", s"day$d", dir, day(d))
      assert(same(dir, probes, day(d)) == Held,
        s"a search after the day-$d append ran a job or a SQL execution")
    }

    // retention drops 2024-03-01; the held day goes with its directory
    assert(VectorIndex.retain(spark, dir, day(8)) == Seq("ingest_date=2024-03-01"))
    assert(same(dir, probes, day(3)) == Held)

    // another writer appends: the first search reads its files in one job,
    // the other searches read nothing
    val external = page(3).select((monotonically_increasing_id() + 100L).as("vec_id"),
      embedder.embedCol(col("text")).as("embedding"), lit("external").as("data_type"),
      to_json(struct(col("doc_id"), col("text"))).as("data_json"),
      lit(day(4)).as("ingest_date"))
    VectorIndex.append(external, dir)
    assert(same(dir, probes, day(4))._1 == 1, "searches after an external append: one job in all")
    assert(same(dir, probes, day(4)) == Held)

    // a delete: the scan answers while the log exists; the id stays gone
    val deleted = 2L
    VectorIndex.delete(spark, dir, Seq(deleted).toDF("vec_id"))
    same(dir, probes, day(4))
    val deletedJson = spark.read.parquet(dir).filter(col("vec_id") === deleted)
      .select("data_json").as[String].collect().toSet
    assert(deletedJson.nonEmpty)
    probes.foreach(p => assert(
      !GraftApi.searchData(spark, dir, p, 60).results.exists(h => deletedJson(h.data_json))))

    // compact drops the log and rewrites the dirty days
    VectorIndex.compact(spark, dir)
    same(dir, probes, day(4))
    probes.foreach(p => assert(
      !GraftApi.searchData(spark, dir, p, 60).results.exists(h => deletedJson(h.data_json))))

    // one more index-leg page
    IndexPipeline.indexRecords(page(4), "text", "day5", dir, day(5))
    assert(same(dir, probes :+ text(44), day(5)) == Held)

    // an explicit past anchor
    assert(same(dir, probes, day(3), asOf = day(3)) == Held)
  }

  test("a window over the byte bound is answered by the scan, correctly") {
    val dir = tmp("graft-resident-big")
    IndexPipeline.indexRecords(page(0), "text", "page", dir, day(1))
    // another writer's incompressible rows: one file past the bound
    val rows = 10000
    spark.range(0, rows, 1, 1).select((col("id") + 1000L).as("vec_id"),
        typedLit(Array.fill(64)(0.125f)).as("embedding"), lit("bulk").as("data_type"),
        concat(col("id").cast("string"), repeat(lit("x"), 4000)).as("data_json"),
        lit(day(1)).as("ingest_date"))
      .write.mode("append").option("compression", "none").partitionBy("ingest_date").parquet(dir)
    val dayDir = new java.io.File(s"$dir/ingest_date=2024-03-01")
    val bulk = dayDir.listFiles().filter(f => f.getName.endsWith(".parquet") && f.length > 1000000L)
    assert(bulk.length == 1 && bulk.head.length > ResidentFiles.MaxBytes,
      s"the bulk file must pass the ${ResidentFiles.MaxBytes}-byte bound")

    val probes = Seq(text(3), "x x x")
    // every search scans: the over-bound window is never held
    assert(same(dir, probes, day(1))._1 >= probes.size)
    assert(same(dir, probes, day(1))._1 >= probes.size)
    // under the bound again, the window is held from the next search on
    bulk.head.delete()
    same(dir, probes, day(1))
    assert(same(dir, probes, day(1)) == Held)
  }

  test("a flat compact keeps a dirty day's clean files held; the next search reads the rewrites") {
    val dir = tmp("graft-resident-compact")
    // another writer's pages, unique vec_ids: two files on day 1, one on day 2
    def external(i: Int, base: Long, d: Date): Unit =
      VectorIndex.append(page(i).select((col("doc_id") + base).as("vec_id"),
        embedder.embedCol(col("text")).as("embedding"), lit("external").as("data_type"),
        to_json(struct(col("doc_id"), col("text"))).as("data_json"),
        lit(d).as("ingest_date")).coalesce(1), dir)
    external(0, 1L << 40, day(1)); external(1, 2L << 40, day(1)); external(2, 3L << 40, day(2))
    val fs = ResidentFiles.fileSystem(spark, new org.apache.hadoop.fs.Path(dir))
    def listed = Seq(1, 2).flatMap(d => ResidentFiles.visible(fs,
      new org.apache.hadoop.fs.Path(s"$dir/ingest_date=${day(d)}"))).filter(ResidentFiles.dataFile)
    def held = ResidentFiles.snapshot[Any](listed).keySet
    val probes = Seq(text(3), text(14), "spark table index")
    assert(same(dir, probes, day(2))._1 == 1, "the first searches read the window in one job")
    val before = listed.map(ResidentFiles.key).toSet
    assert(before.size == 3 && held == before)

    VectorIndex.delete(spark, dir, Seq(docs(3).getLong(0) + (1L << 40)).toDF("vec_id"))
    VectorIndex.compact(spark, dir)
    val after = listed
    val afterKeys = after.map(ResidentFiles.key).toSet
    val (rewritten, gone) = (afterKeys -- before, before -- afterKeys)
    assert(rewritten.size == 1 && gone.size == 1, s"one file of day 1 rewrites, got $rewritten")
    assert(held == before.intersect(afterKeys),
      "the clean files, one of them in the dirty day, stay held")
    val held0 = ResidentFiles.bytesHeld
    val (_, jobs) = JobCounter(spark)(GraftApi.searchData(spark, dir, probes.head, K))
    assert(jobs <= 1, s"the first search after compact ran $jobs jobs")
    assert(held == afterKeys && !held.exists(gone),
      "the search holds the rewritten file and drops the replaced one")
    val fresh = after.filter(f => rewritten(ResidentFiles.key(f)))
    assert(ResidentFiles.bytesHeld - held0 <= fresh.map(_.getLen).sum,
      "the search re-read files it held")
    assert(same(dir, probes, day(2)) == Held)
    probes.foreach(p => assert(!GraftApi.searchData(spark, dir, p, 60).results
      .exists(_.data_json.contains(s""""doc_id":${docs(3).getLong(0)},""")),
      "the deleted record stays gone"))
  }

  test("searchData ≡ searchIndex collected typed: a null-text row, no day directory, a missing index") {
    // a null text indexes a null embedding, which never ranks
    val dir = tmp("graft-resident-null")
    val withNull = LocalFrame.of(spark, docSchema,
      docs.slice(0, 10) :+ org.apache.spark.sql.Row(docs.last.getLong(0) + 1L, null))
    IndexPipeline.indexRecords(withNull, "text", "page", dir, day(1))
    val probes = Seq(text(3), "spark table index")
    assert(same(dir, probes, day(1)) == Held)

    // index rows written without day directories: the scan answers
    val flat = tmp("graft-resident-flat")
    page(1).select((col("doc_id") + 500L).as("vec_id"),
        embedder.embedCol(col("text")).as("embedding"), lit("flat").as("data_type"),
        to_json(struct(col("doc_id"), col("text"))).as("data_json"))
      .coalesce(1).write.parquet(flat)
    probes.foreach { p =>
      val got = bits(GraftApi.searchData(spark, flat, p, K).results)
      assert(got.nonEmpty && got == typed(flat, p, null), s"no-day layout differs for '$p'")
    }

    // a missing index fails as searchIndex does
    val missing = tmp("graft-resident-missing")
    val viaApi = intercept[Exception](GraftApi.searchData(spark, missing, "x", K))
    val viaIndex = intercept[Exception](typed(missing, "x", null))
    assert(viaApi.getClass == viaIndex.getClass && viaApi.getMessage == viaIndex.getMessage,
      s"$viaApi vs $viaIndex")
  }
}
