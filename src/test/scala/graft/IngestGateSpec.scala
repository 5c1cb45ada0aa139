package graft

import org.apache.spark.sql.functions._
import graft.multimodal.{Multimodal, PhashIndex, PngCodec}
import graft.text.LshIndex
import graft.vector.IvfIndex

/** The three persisted ingest gates on one fixture batch each: an id
  * collision fails with the gate's message and leaves the index exactly as
  * it was, and a clean delivery stays within its Spark job budget.
  */
class IngestGateSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString + "/idx"

  /** Every file under `dir`: relative path → bytes. */
  private def listing(dir: String): Map[String, Long] = {
    val root = new java.io.File(dir).toPath
    val ls = java.nio.file.Files.walk(root)
    try ls.filter(java.nio.file.Files.isRegularFile(_)).toArray.toSeq.map { p =>
      val f = p.asInstanceOf[java.nio.file.Path]
      root.relativize(f).toString -> java.nio.file.Files.size(f)
    }.toMap finally ls.close()
  }

  private def report(df: org.apache.spark.sql.DataFrame): Map[Long, String] =
    df.collect().map(r => r.getLong(0) -> r.getString(1)).toMap

  // ---- fixtures: a built index and one delivery with every verdict ----

  private def lshFixture(): (String, org.apache.spark.sql.DataFrame, Map[Long, String]) = {
    val docs = Tables.documents(spark, sf)
    val dir = tmp("graft-gate-lsh")
    LshIndex.build(spark, docs, dir)
    val src = docs.orderBy("doc_id").limit(4).collect().map(_.getAs[String]("text"))
    def fresh(i: Int) = (0 until 30).map(j => s"fresh${i}w$j").mkString(" ")
    val rows = Seq(
      (9000001L, src(0), "exact_dup"), (9000002L, src(1), "exact_dup"),
      (9000003L, src(2) + " zz yy xx", "near_dup"), (9000004L, src(3) + " zz yy xx", "near_dup"),
      (9000005L, fresh(0), "ingested"), (9000006L, fresh(0), "batch_dup"),
      (9000007L, fresh(1), "ingested"), (9000008L, fresh(2), "ingested"))
    (dir, rows.map(r => (r._1, r._2)).toDF("doc_id", "text"), rows.map(r => r._1 -> r._3).toMap)
  }

  private def ivfFixture(): (String, org.apache.spark.sql.DataFrame, Map[Long, String]) = {
    val emb = Tables.embeddings(spark, sf).filter(col("vec_id") < 300L)
      .select("vec_id", "label", "embedding")
    val dir = tmp("graft-gate-ivf")
    IvfIndex.build(spark, emb, dir)
    val resident = emb.orderBy("vec_id").limit(3).collect()
      .map(r => (r.getInt(1), r.getSeq[Float](2)))
    val dim = resident.head._2.length
    val r = new scala.util.Random(7)
    def fresh() = Seq.fill(dim)(r.nextGaussian().toFloat)
    val pair = fresh()
    val rows = resident.toSeq.zipWithIndex.map { case ((l, e), i) =>
        (9000001L + i, l, e, "near_dup") } ++ Seq(
      (9000004L, 0, pair, "ingested"), (9000005L, 0, pair, "batch_dup"),
      (9000006L, 1, fresh(), "ingested"), (9000007L, 2, fresh(), "ingested"))
    (dir, rows.map(x => (x._1, x._2, x._3)).toDF("vec_id", "label", "embedding"),
      rows.map(x => x._1 -> x._4).toMap)
  }

  private def png(src: Long, filter: Int = 0): Array[Byte] =
    PngCodec.encodeGray(Array.tabulate(1024) { p =>
      var h = src * 1000003L + p
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      (h & 0xFF).toInt
    }, 32, 32, filterType = filter)

  private def img(id: Long, src: Long, filter: Int = 0) =
    Multimodal.MediaRow(id, "image", png(src, filter))

  private def phashFixture()
      : (String, org.apache.spark.sql.Dataset[Multimodal.MediaRow], Map[Long, String]) = {
    val dir = tmp("graft-gate-ph")
    PhashIndex.build(spark, (0L until 10L).map(i => img(i, i)).toDS(), dir)
    val rows = Seq(
      (img(9000001L, 2L), "near_dup"), (img(9000002L, 5L, filter = 1), "near_dup"),
      (img(9000003L, 50L), "ingested"), (img(9000004L, 50L, filter = 1), "batch_dup"),
      (img(9000005L, 51L), "ingested"),
      (Multimodal.MediaRow(9000006L, "image", Array[Byte](1, 2, 3)), "undecodable"))
    (dir, rows.map(_._1).toDS(), rows.map(r => r._1.doc_id -> r._2).toMap)
  }

  // ---- an id collision: same message, index untouched ----

  test("LSH gate: a resident id in the batch fails with the id-gate message, index untouched") {
    val (dir, batch, _) = lshFixture()
    val clashing = batch.unionByName(Seq((0L, "new text under a resident id")).toDF("doc_id", "text"))
    val before = listing(dir)
    val e = intercept[IllegalArgumentException](LshIndex.ingestBatch(spark, dir, clashing,
      winnowMinShared = 3))
    assert(e.getMessage == "requirement failed: batch doc_ids collide with resident doc_ids " +
      "(e.g. 0): ingest requires batch ids disjoint from the resident corpus")
    assert(listing(dir) == before)
  }

  test("IVF gate: a resident id in the batch fails with the id-gate message, index untouched") {
    val (dir, batch, _) = ivfFixture()
    val clashing = batch.unionByName(Tables.embeddings(spark, sf).filter(col("vec_id") === 7L)
      .select("vec_id", "label", "embedding"))
    val before = listing(dir)
    val e = intercept[IllegalArgumentException](IvfIndex.dedupIngest(spark, dir, clashing))
    assert(e.getMessage == "requirement failed: batch vec_ids collide with resident ids " +
      "(e.g. 7): ingest requires batch ids disjoint from the resident corpus")
    assert(listing(dir) == before)
  }

  test("pHash gate: a resident id or a repeated batch id fails as before, index untouched") {
    val (dir, batch, _) = phashFixture()
    val before = listing(dir)
    val e = intercept[IllegalArgumentException](PhashIndex.dedupIngest(spark, dir,
      batch.union(Seq(img(3L, 60L)).toDS())))
    assert(e.getMessage == "requirement failed: batch doc_ids collide with resident ids " +
      "(e.g. 3): ingest requires batch ids disjoint from the resident corpus")
    assert(listing(dir) == before)
    val dup = intercept[IllegalArgumentException](PhashIndex.dedupIngest(spark, dir,
      batch.union(Seq(img(9000005L, 61L)).toDS())))
    assert(dup.getMessage == "requirement failed: ingest batch carries duplicate doc_id " +
      "9000005 — collapse to one row per key before dedupIngest")
    assert(listing(dir) == before)
  }

  // ---- job budgets: one clean delivery, report collected ----
  // Bounds are the measured count (41, 16, 12 on a 4-core local[4]
  // session) plus a small margin: the LSH count varies by a few jobs run
  // to run.

  test("LSH gate: one delivery within its job budget") {
    val (dir, batch, want) = lshFixture()
    val (got, jobs) = JobCounter(spark)(report(LshIndex.ingestBatch(spark, dir, batch,
      winnowMinShared = 3)))
    assert(got == want)
    info(s"$jobs Spark jobs")
    assert(jobs <= 45, s"LSH gate ran $jobs Spark jobs")
  }

  test("IVF gate: one delivery within its job budget") {
    val (dir, batch, want) = ivfFixture()
    val (got, jobs) = JobCounter(spark)(report(IvfIndex.dedupIngest(spark, dir, batch,
      threshold = 0.95)))
    assert(got == want)
    info(s"$jobs Spark jobs")
    assert(jobs <= 18, s"IVF gate ran $jobs Spark jobs")
  }

  test("pHash gate: one delivery within its job budget") {
    val (dir, batch, want) = phashFixture()
    val (got, jobs) = JobCounter(spark)(report(PhashIndex.dedupIngest(spark, dir, batch)))
    assert(got == want)
    info(s"$jobs Spark jobs")
    assert(jobs <= 14, s"pHash gate ran $jobs Spark jobs")
  }
}
