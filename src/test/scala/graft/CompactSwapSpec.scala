package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.CompactSwap
import graft.text.{InvertedIndex, LshIndex}
import graft.vector.IvfIndex

/** The compact-swap two-rename window, killed and recovered: every test
  * simulates a writer dying between "live → ._old" and "._compact → live"
  * with direct FS ops, then proves the next open restores the table and
  * serves the pre-compact state with tombstones still masked.
  */
class CompactSwapSpec extends SparkSpec {

  private def fs = new Path("/tmp").getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The crash: stage the live dir aside exactly like compact's first
    * rename, leave a half-written `._compact` junk sibling behind.
    */
  private def crashMidSwap(base: String, table: String): Unit = {
    val live = new Path(s"$base/$table")
    val old = new Path(s"$base/$table._old")
    require(fs.rename(live, old), s"fixture: cannot stage $table")
    val junk = new Path(s"$base/$table._compact/part-junk")
    val out = fs.create(junk); out.write(Array[Byte](1, 2, 3)); out.close()
  }

  test("helper: recover restores a staged table; no-ops when live exists; rewrite swaps") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-swap").toString
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.parquet(s"$base/t")
    crashMidSwap(base, "t")
    assert(!fs.exists(new Path(s"$base/t")))
    CompactSwap.recover(spark, base, Seq("t"))
    assert(spark.read.parquet(s"$base/t").count() == 2L)
    // idempotent + no-op when live exists (the leftover ._compact stays
    // for the next compact's dead-writer sweep)
    CompactSwap.recover(spark, base, Seq("t"))
    assert(spark.read.parquet(s"$base/t").count() == 2L)
    // rewrite: sweeps leftovers, swaps the fresh table in, drops ._old
    CompactSwap.rewrite(spark, base, "t") { fresh =>
      spark.read.parquet(s"$base/t").filter(col("id") === 1L)
        .write.mode(org.apache.spark.sql.SaveMode.ErrorIfExists).parquet(fresh)
    }
    assert(spark.read.parquet(s"$base/t").count() == 1L)
    assert(!fs.exists(new Path(s"$base/t._old")) && !fs.exists(new Path(s"$base/t._compact")))
  }

  test("LshIndex: reads recover from a crash on any table; compact completes after") {
    val docs = Tables.documents(spark, sf).limit(60).localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft-lshcr").toString + "/lsh"
    LshIndex.build(spark, docs, dir)
    val victim = docs.select(max(col("doc_id"))).head.getLong(0)
    LshIndex.delete(spark, dir, spark.range(victim, victim + 1).select(col("id").as("doc_id")))
    val batch = docs.filter(col("doc_id") === victim)
      .select((col("doc_id") + 5000000L).as("doc_id"), col("text"))
    val expected = LshIndex.dedupBatch(spark, dir, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // crash mid-compact on the LAST table of the sequence (hashes — the
    // id-gate authority), the worst case
    crashMidSwap(dir, "hashes")
    val recovered = LshIndex.dedupBatch(spark, dir, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(recovered == expected, "read after recovery must equal the pre-crash state")
    // the tombstone still masks: the deleted resident pairs with nothing
    assert(!recovered.exists(_._2 == victim))
    // and compact itself recovers, completes, and folds the log
    crashMidSwap(dir, "bands")
    LshIndex.compact(spark, dir)
    assert(!fs.exists(new Path(s"$dir/tombstones")))
    assert(LshIndex.dedupBatch(spark, dir, batch).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("IvfIndex: search and IvfPq reads recover from a crashed vectors swap") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfcr").toString + "/ivf"
    val emb = Tables.embeddings(spark, sf)
    IvfIndex.build(spark, emb, dir, kmeansIters = 0)
    val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)
    IvfIndex.delete(spark, dir, spark.range(0, 1).select(col("id").as("vec_id")))
    val expected = IvfIndex.search(spark, dir, qv).collect()
      .map(r => r.getAs[Long]("vec_id")).toSeq
    assert(!expected.contains(0L), "tombstoned vector must not serve")
    crashMidSwap(dir, "vectors")
    val recovered = IvfIndex.search(spark, dir, qv).collect()
      .map(r => r.getAs[Long]("vec_id")).toSeq
    assert(recovered == expected)
    crashMidSwap(dir, "vectors")
    IvfIndex.compact(spark, dir)
    assert(!fs.exists(new Path(s"$dir/tombstones")))
    assert(IvfIndex.search(spark, dir, qv).collect()
      .map(r => r.getAs[Long]("vec_id")).toSeq == expected)
  }

  test("InvertedIndex: swap compact replaces overwrite-in-place; reads recover") {
    val docs = Tables.documents(spark, sf).limit(80).localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft-invcr").toString + "/inv"
    InvertedIndex.build(spark, docs, dir, nBuckets = 8)
    val term = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).count().orderBy(desc("count")).head.getString(0)
    val victim = InvertedIndex.search(spark, dir, Seq(term), k = 1)
      .head.getAs[Long]("doc_id")
    InvertedIndex.delete(spark, dir, spark.range(victim, victim + 1).select(col("id").as("doc_id")))
    val expected = InvertedIndex.bm25(spark, dir, Seq(term), k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(!expected.exists(_._1 == victim))
    crashMidSwap(dir, "postings")
    assert(InvertedIndex.bm25(spark, dir, Seq(term), k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq == expected)
    crashMidSwap(dir, "doclens")
    InvertedIndex.compact(spark, dir)
    assert(!fs.exists(new Path(s"$dir/tombstones")))
    assert(InvertedIndex.bm25(spark, dir, Seq(term), k = 10).collect()
      .map(r => (r.getLong(0), r.getDouble(2))).toSeq == expected)
  }

  test("PhashIndex: ingest gate recovers from a crashed hashes swap") {
    import graft.multimodal.{Multimodal, PhashIndex, PngCodec}
    import spark.implicits._
    def png(src: Long): Array[Byte] =
      PngCodec.encodeGray(Array.tabulate(1024) { p =>
        var h = src * 1000003L + p
        h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
        (h & 0xFF).toInt
      }, 32, 32)
    val dir = java.nio.file.Files.createTempDirectory("graft-phcr").toString + "/ph"
    PhashIndex.build(spark, (0L until 6L).map(i =>
      Multimodal.MediaRow(i, "image", png(i))).toDS(), dir)
    PhashIndex.delete(spark, dir, Seq(3L).toDF("doc_id"))
    crashMidSwap(dir, "hashes")
    // the gate recovers: resident 2 still vetoes its twin, tombstoned 3 does not
    val v = PhashIndex.dedupIngest(spark, dir,
      Seq(Multimodal.MediaRow(102L, "image", png(2)),
        Multimodal.MediaRow(103L, "image", png(3))).toDS())
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(v(102L) == "near_dup" && v(103L) == "ingested", s"got $v")
  }
}
