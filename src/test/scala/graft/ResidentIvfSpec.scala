package graft

import java.sql.Date
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.api.GraftApi
import graft.functions.VectorFunctions.l2Sq
import graft.sources.{Parquet, ResidentFiles}
import graft.vector.{HashingEmbedder, IvfIndex, VectorIndex}

/** `IvfIndex.search` answers from the index's files held on the driver:
  * through a build, appends, a gated ingest, a delete, a compact and a
  * retrain it returns bit for bit what the partition-pruned scan returns,
  * and it runs a Spark job only to read files it does not hold. The flat
  * window and the IVF files share one byte bound.
  */
class ResidentIvfSpec extends SparkSpec {
  import spark.implicits._

  private val NCells = 8
  private def tmp(tag: String) = java.nio.file.Files.createTempDirectory(tag).toString + "/ivf"
  private def day(d: Int) = Date.valueOf(java.time.LocalDate.of(2024, 3, d))

  private lazy val emb = Tables.embeddings(spark, sf).cache()
  private lazy val n = emb.count().toInt
  private lazy val queries: Seq[Seq[Float]] =
    emb.filter(col("vec_id").isin(0L, 7L, 123L)).orderBy("vec_id")
      .select("embedding").as[Seq[Float]].collect().toSeq :+ Seq.fill(64)(0.05f)

  /** One lookup: (nProbe, k, asOf, maxDays). */
  private final case class Lookup(nProbe: Int, k: Int, asOf: Date = null,
      maxDays: Int = VectorIndex.RetentionDays)

  private lazy val lookups = Seq(Lookup(1, 5), Lookup(4, 10), Lookup(NCells, 50),
    Lookup(NCells, 10 * n), Lookup(NCells, 10 * n, day(1)), Lookup(4, 20, day(2), 1))

  private def bits(rows: Array[Row]): Seq[Any] = rows.toSeq.map(r =>
    (r.get(0), r.get(1), r.get(2), if (r.isNullAt(3)) null
      else java.lang.Double.doubleToRawLongBits(r.getDouble(3))))

  /** search ≡ scan on schema and bits for every query × lookup; the Spark
    * jobs the searches ran, in total.
    */
  private def same(dir: String, ls: Seq[Lookup] = lookups): Int = {
    val cases = for (q <- queries; l <- ls) yield (q, l)
    val (got, jobs) = JobCounter(spark)(cases.map { case (q, l) =>
      val df = IvfIndex.search(spark, dir, q, l.k, l.nProbe, l.asOf, l.maxDays)
      (df.schema, df.collect())
    })
    cases.zip(got).foreach { case ((q, l), (schema, rows)) =>
      val scan = IvfIndex.scan(spark, dir, q, l.k, l.nProbe, l.asOf, l.maxDays)
      assert(schema == scan.schema, s"schema differs for $l")
      assert(bits(rows) == bits(scan.collect()), s"search differs from the scan for $l")
    }
    jobs
  }

  /** Residents `[from, until)` under ids shifted by `offset`, each embedding
    * reversed or negated: no resident is a near duplicate of them.
    */
  private def batch(offset: Long, from: Int, until: Int, negate: Boolean = false): DataFrame =
    emb.filter(col("vec_id") >= from && col("vec_id") < until)
      .select((col("vec_id") + offset).as("vec_id"), col("label"),
        (if (negate) transform(col("embedding"), x => -x) else reverse(col("embedding")))
          .as("embedding"))

  test("search ≡ the scan through build, append, dedupIngest, delete, compact and retrain") {
    val dir = tmp("graft-resident-ivf")
    IvfIndex.build(spark, emb, dir, nCells = NCells, ingestDate = day(1))
    assert(same(dir) <= 2, "a cold index reads the centroids and the vectors, one job each")
    assert(same(dir) == 0, "searches over held files ran a job")

    IvfIndex.appendBatch(spark, batch(100000L, 0, 200), dir, day(2))
    assert(same(dir) <= 1, "the first search after an append reads the new files in one job")
    assert(same(dir) == 0)

    val offer = emb.filter(col("vec_id") < 30).select((col("vec_id") + 200000L).as("vec_id"),
      col("label"), col("embedding")).union(batch(300000L, 30, 60, negate = true))
    val verdicts = IvfIndex.dedupIngest(spark, dir, offer, ingestDate = day(2))
      .collect().map(r => r.getString(1)).toSet
    assert(verdicts == Set("near_dup", "ingested"), verdicts.toString)
    assert(same(dir) <= 1)
    assert(same(dir) == 0)

    // a delete: the scan answers while the log exists; the id stays absent
    val doomed = IvfIndex.search(spark, dir, queries.head, 1, NCells).head.getLong(0)
    IvfIndex.delete(spark, dir, Seq(doomed).toDF("vec_id"))
    same(dir)
    queries.foreach(q => assert(!IvfIndex.search(spark, dir, q, 10 * n, NCells)
      .collect().exists(_.getLong(0) == doomed)))

    // compact drops the log and rewrites the vectors; the centroids stay held
    IvfIndex.compact(spark, dir)
    assert(same(dir) <= 1)
    assert(same(dir) == 0)
    queries.foreach(q => assert(!IvfIndex.search(spark, dir, q, 10 * n, NCells)
      .collect().exists(_.getLong(0) == doomed)))

    // retrain writes a new generation: its centroids are read, never the held ones
    IvfIndex.retrain(spark, dir, nCells = 4, rounds = 2)
    assert(same(dir) <= 2)
    assert(same(dir) == 0)
    val cells = IvfIndex.search(spark, dir, queries.head, 10 * n, NCells)
      .select("cid").as[Long].collect().toSet
    assert(cells.nonEmpty && cells.subsetOf((0L until 4L).toSet), s"cells $cells")
  }

  test("a date-major layout answers from held files as the scan does") {
    val dir = tmp("graft-resident-ivf-dm")
    IvfIndex.build(spark, emb, dir, nCells = NCells, ingestDate = day(1), dateMajor = true)
    IvfIndex.appendBatch(spark, batch(100000L, 0, 200), dir, day(2))
    assert(IvfIndex.layoutDateMajor(spark, dir))
    assert(same(dir) <= 2)
    assert(same(dir) == 0)
  }

  /** At least `rows` copies of the residents with distinct ids and ~4 KB
    * labels: uncompressed, about `rows × 4 KB` of parquet.
    */
  private def bulky(rows: Int): DataFrame = {
    val copies = (rows + n - 1) / n
    emb.crossJoin(spark.range(copies).toDF("copy"))
      .select((col("copy") * 100000L + col("vec_id")).as("vec_id"),
        concat(col("vec_id").cast("string"), lit("/"), col("copy").cast("string"),
          repeat(lit("x"), 4000)).as("label"), col("embedding"))
  }

  private def uncompressed[T](body: => T): T = {
    val key = "spark.sql.parquet.compression.codec"
    val was = spark.conf.get(key)
    spark.conf.set(key, "none")
    try body finally spark.conf.set(key, was)
  }

  private def dirBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length else 0L
    walk(new java.io.File(dir))
  }

  test("an index over the byte bound is answered by the scan, correctly") {
    val dir = tmp("graft-resident-ivf-big")
    uncompressed(IvfIndex.build(spark, bulky(10000), dir, nCells = 4, kmeansIters = 0))
    assert(dirBytes(s"$dir/vectors") > ResidentFiles.MaxBytes,
      s"the index must pass the ${ResidentFiles.MaxBytes}-byte bound")
    val q = queries.head
    val corpus = Parquet.read(spark, s"$dir/vectors")
    val want = corpus.withColumn("d2", l2Sq(col("embedding"), lit(q.toArray)))
      .orderBy(col("d2"), col("vec_id")).limit(20)
      .select(col("vec_id"), col("label"), col("d2")).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    (1 to 2).foreach { _ =>
      val (got, jobs) = JobCounter(spark)(IvfIndex.search(spark, dir, q, 20, 4).collect())
      assert(jobs >= 1, "an over-bound index must be scanned")
      assert(got.toSeq.map(r => (r.getLong(0), r.getString(1), r.getDouble(3))) == want)
      assert(ResidentFiles.bytesHeld <= ResidentFiles.MaxBytes)
    }
  }

  test("the flat window and an IVF index share the bound; a search keeps its own files") {
    val ivf = tmp("graft-shared-ivf")
    uncompressed(IvfIndex.build(spark, bulky(5000), ivf, nCells = 4, kmeansIters = 0))
    val flat = java.nio.file.Files.createTempDirectory("graft-shared-flat").toString + "/idx"
    val embedder = new HashingEmbedder()
    uncompressed(VectorIndex.append(spark.range(0, 5000, 1, 2).select(col("id").as("vec_id"),
        embedder.embedCol(concat(lit("doc "), (col("id") % 97).cast("string")))
          .as("embedding"), lit("bulk").as("data_type"),
        concat(col("id").cast("string"), repeat(lit("y"), 4000)).as("data_json"),
        lit(day(1)).as("ingest_date")), flat))
    val ivfBytes = dirBytes(s"$ivf/vectors") + dirBytes(s"$ivf/centroids")
    val flatBytes = dirBytes(flat)
    assert(ivfBytes < ResidentFiles.MaxBytes && flatBytes < ResidentFiles.MaxBytes &&
      ivfBytes + flatBytes > ResidentFiles.MaxBytes, s"ivf $ivfBytes, flat $flatBytes")

    val q = queries.head
    def ivfSearch(): Int = {
      val (got, jobs) = JobCounter(spark)(IvfIndex.search(spark, ivf, q, 10, 4).collect())
      assert(bits(got) == bits(IvfIndex.scan(spark, ivf, q, 10, 4, null,
        VectorIndex.RetentionDays).collect()))
      assert(ResidentFiles.bytesHeld <= ResidentFiles.MaxBytes)
      jobs
    }
    def flatSearch(): Int = {
      val (got, jobs) = JobCounter(spark)(GraftApi.searchData(spark, flat, "doc 5", 10).results)
      val scan = VectorIndex.search(VectorIndex.loadRecent(spark, flat, day(1)),
        embedder.embedText("doc 5").toSeq, 10).as[GraftApi.SearchHit].collect().toSeq
      assert(got == scan)
      assert(ResidentFiles.bytesHeld <= ResidentFiles.MaxBytes)
      jobs
    }
    // each search holds its own files, evicting the other's, never its own
    (1 to 2).foreach { _ =>
      assert(ivfSearch() >= 1, "the flat window evicted the IVF files: they are read again")
      assert(ivfSearch() == 0)
      assert(flatSearch() >= 1, "the IVF files evicted the flat window: it is read again")
      assert(flatSearch() == 0)
    }
  }
}
