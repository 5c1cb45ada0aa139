package graft

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.{KeyedSidecar, Parquet}

/** `graft.sources.Parquet` is `spark.read.parquet` minus the
  * schema-inference job: same schema (nullability and field metadata
  * included), same rows, same errors, and no Spark job of its own.
  */
class ParquetSpec extends SparkSpec {

  private def tmp(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-pq-$tag").toString

  private def outcome(read: => DataFrame): Either[String, (StructType, Seq[String])] =
    try {
      val df = read
      Right((df.schema, df.toJSON.collect().toSeq.sorted))
    } catch { case NonFatal(e) => Left(s"${e.getClass.getName}: ${e.getMessage}") }

  private def assertSame(paths: String*): Unit = {
    val spark0 = outcome(spark.read.parquet(paths: _*))
    val ours = outcome(Parquet.read(spark, paths: _*))
    assert(ours == spark0, s"reader differs from spark.read.parquet on ${paths.mkString(", ")}")
  }

  /** The root and every visible table directory below it, as a reader
    * would be pointed at them.
    */
  private def assertSameTables(root: String): Unit = {
    val tables = Option(new java.io.File(root).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && !f.getName.startsWith(".") && !f.getName.startsWith("_"))
    assert(tables.nonEmpty, s"no tables under $root")
    tables.foreach(t => assertSame(t.getPath))
  }

  test("single-file fixtures: same schema and rows as spark.read.parquet, events included") {
    // the events loader's conf: nanos timestamps read as longs
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    Tables.names.foreach(n => assertSame(s"$sf/$n.parquet"))
  }

  test("partitioned VectorIndex after append, delete and compact") {
    import spark.implicits._
    import graft.vector.{IndexPipeline, VectorIndex}
    val dir = tmp("vi") + "/idx"
    val docs = Tables.documents(spark, sf).limit(30)
    IndexPipeline.indexRecords(docs, "text", "document", dir, java.sql.Date.valueOf("2024-03-01"))
    IndexPipeline.indexRecords(docs.limit(10), "text", "late", dir,
      java.sql.Date.valueOf("2024-03-02"))
    assertSame(dir)
    assertSame(s"$dir/ingest_date=2024-03-02")
    VectorIndex.delete(spark, dir, Seq(0L, 1L).toDF("vec_id"))
    assertSame(dir)
    assertSame(dir + "._tombstones")
    VectorIndex.compact(spark, dir)
    assertSame(dir)
  }

  test("LSH, IVF and Hash64 sidecars after build, ingest and compact") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf).limit(60)
    val lsh = tmp("lsh") + "/idx"
    graft.text.LshIndex.build(spark, docs, lsh)
    assertSameTables(lsh)
    graft.text.LshIndex.ingestBatch(spark, lsh, docs.limit(5)
      .select((col("doc_id") + 5000000L).as("doc_id"), concat(col("text"), lit(" zz"))
        .as("text"))).collect()
    graft.text.LshIndex.delete(spark, lsh, Seq(1L, 2L).toDF("doc_id"))
    assertSameTables(lsh)
    graft.text.LshIndex.compact(spark, lsh)
    assertSameTables(lsh)

    val emb = Tables.embeddings(spark, sf).limit(200)
    val ivf = tmp("ivf") + "/idx"
    graft.vector.IvfIndex.build(spark, emb, ivf, kmeansIters = 0)
    assertSameTables(ivf)
    graft.vector.IvfIndex.dedupIngest(spark, ivf, emb.limit(20)
      .select((col("vec_id") + 900000L).as("vec_id"), col("label"), col("embedding")))
      .collect()
    graft.vector.IvfIndex.delete(spark, ivf, Seq(3L, 4L).toDF("vec_id"))
    assertSameTables(ivf)
    // the dedupIngest probed-cell read: several cell directories under one basePath
    val cells = new java.io.File(s"$ivf/vectors").listFiles.toSeq
      .filter(_.getName.startsWith("cell=")).map(_.getPath).sorted.take(2)
    assert(cells.size == 2)
    assert(outcome(Parquet.readUnder(spark, s"$ivf/vectors", cells)) ==
      outcome(spark.read.option("basePath", s"$ivf/vectors").parquet(cells: _*)))
    graft.vector.IvfIndex.compact(spark, ivf)
    assertSameTables(ivf)

    import graft.multimodal.{Multimodal, PhashIndex, PngCodec}
    def png(src: Long): Array[Byte] = PngCodec.encodeGray(Array.tabulate(1024) { p =>
      var h = src * 1000003L + p
      h ^= h >>> 33; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
      (h & 0xFF).toInt
    }, 32, 32)
    def media(ids: Seq[Long]) = ids.map(i => Multimodal.MediaRow(i, "image", png(i))).toDS()
    val ph = tmp("h64") + "/idx"
    PhashIndex.build(spark, media(0L until 8L), ph)
    assertSameTables(ph)
    PhashIndex.dedupIngest(spark, ph, media(Seq(100L, 101L))).collect()
    PhashIndex.delete(spark, ph, Seq(5L).toDF("doc_id"))
    assertSameTables(ph)
    PhashIndex.compact(spark, ph)
    assertSameTables(ph)
  }

  test("KeyedSidecar written flat and bucketed") {
    import spark.implicits._
    val df = (0L until 500L).map(i => (i, s"v$i")).toDF("k", "v")
    val flat = tmp("ksf") + "/t"
    KeyedSidecar.write(df, "k", flat, SaveMode.Overwrite, estimatedBytes = Some(0L))
    assert(!KeyedSidecar.isBucketed(spark, flat))
    assertSame(flat)
    val bucketed = tmp("ksb") + "/t"
    KeyedSidecar.write(df, "k", bucketed, SaveMode.Overwrite, estimatedBytes = Some(Long.MaxValue))
    assert(KeyedSidecar.isBucketed(spark, bucketed))
    assertSame(bucketed)
    val keys = Seq(3L, 77L, 499L, 1000L).toDF("k")
    assert(KeyedSidecar.lookup(spark, bucketed, "k", keys, 0L).collect().map(_.getLong(0)).sorted
      .toSeq == Seq(3L, 77L, 499L))
  }

  test("a missing path and a directory without data files fail as spark.read.parquet does") {
    val dir = tmp("err")
    assertSame(s"$dir/missing")
    val empty = s"$dir/empty"
    spark.range(0).write.parquet(empty)
    new java.io.File(empty).listFiles.filter(_.getName.endsWith(".parquet")).foreach(_.delete())
    assert(new java.io.File(s"$empty/_SUCCESS").exists)
    assertSame(empty)
    assert(outcome(Parquet.read(spark, empty)).isLeft)
  }

  test("with mergeSchema on, files of different schemas merge as spark.read.parquet merges them") {
    import spark.implicits._
    val dir = tmp("merge") + "/t"
    Seq((1L, "a")).toDF("k", "v").write.parquet(dir)
    Seq((2L, 3.0)).toDF("k", "w").write.mode(SaveMode.Append).parquet(dir)
    assertSame(dir)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      assertSame(dir)
      assert(Parquet.read(spark, dir).columns.toSet == Set("k", "v", "w"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
  }

  test("the reader starts no Spark job") {
    val dir = tmp("jobs") + "/idx"
    graft.vector.IndexPipeline.indexRecords(Tables.documents(spark, sf).limit(10), "text",
      "document", dir, java.sql.Date.valueOf("2024-03-01"))
    val (_, jobs) = JobCounter(spark) {
      Tables.names.foreach(n => Parquet.read(spark, s"$sf/$n.parquet"))
      Parquet.read(spark, dir)
      Parquet.read(spark, s"$dir/ingest_date=2024-03-01")
    }
    assert(jobs == 0, s"the reader ran $jobs Spark jobs")
    val (_, inferJobs) = JobCounter(spark)(spark.read.parquet(dir))
    assert(inferJobs == 1, s"spark.read.parquet infers with one job (ran $inferJobs)")
  }

  test("src/main reads parquet only through graft.sources.Parquet") {
    // `.read.parquet(` and `.read.option(..)...parquet(` start a
    // schema-inference job per call; the reader does not
    val readCall = """\.read\s*(\.\s*(option|options|schema)\s*\([^()]*(\([^()]*\)[^()]*)*\)\s*)*\.\s*parquet\s*\(""".r
    val reader = java.nio.file.Paths.get("src/main/scala/graft/sources/Parquet.scala")
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator().asScala.toList finally s.close()
    }.filter(_.toString.endsWith(".scala"))
    assert(files.size > 50, s"scan found only ${files.size} sources")
    val found = files.filterNot(_.normalize() == reader.normalize()).flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      readCall.findAllMatchIn(text).map { m =>
        s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
    assert(found.isEmpty,
      s"read parquet through graft.sources.Parquet instead:\n${found.mkString("\n")}")
  }
}
