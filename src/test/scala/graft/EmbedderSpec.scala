package graft

import org.apache.spark.sql.functions._
import graft.vector.{HashingEmbedder, IndexPipeline, LookupEmbedder, PooledEmbedder, VectorIndex}

class EmbedderSpec extends SparkSpec {

  test("driver-side and executor-side embeddings are identical") {
    val e = new HashingEmbedder(64)
    val docs = Tables.documents(spark, sf).limit(20)
    val viaCol = docs.select(col("doc_id"), e.embedCol(col("text")).as("emb"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getSeq[Float](1)).toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      assert(viaCol(r.getLong(0)) == e.embedText(r.getString(1)).toSeq)
    }
  }

  test("embeddings are unit-norm so 1 - d2/2 == cosine") {
    val e = new HashingEmbedder(64)
    val v = e.embedText("key agg row scan slow fast")
    val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
    assert(math.abs(norm - 1.0) < 1e-6)
  }

  test("end-to-end search lifecycle: index tool results, query retrieves them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe").toString + "/idx"
    val docs = Tables.documents(spark, sf)
    IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    // query with an indexed document's own text -> it must be the top hit
    val probe = docs.filter(col("doc_id") === 42L).select("text").head.getString(0)
    val hits = IndexPipeline.searchIndex(spark, dir, probe, k = 3,
      asOf = java.sql.Date.valueOf("2024-03-02")).collect()
    assert(hits.length == 3)
    assert(hits.head.getAs[Long]("rank") == 1L)
    assert(math.abs(hits.head.getAs[Double]("similarity_score") - 1.0) < 1e-5)
    assert(hits.head.getAs[String]("data_json").contains("\"doc_id\":42"))
    assert(hits.head.getAs[String]("data_type") == "document")
  }

  test("full lifecycle through a NON-hashing embedder: the plug point is real") {
    // Precomputed model vectors: documents joined to embeddings.parquet
    // (the generator keys them doc_id == vec_id) — the deployment shape of
    // a real external model (vectors produced out-of-band, served by key).
    val docs = Tables.documents(spark, sf)
    val joined = docs.join(Tables.embeddings(spark, sf),
      docs("doc_id") === col("vec_id"))
      .select(col("text"), col("embedding"))
    val model = LookupEmbedder.fromDataFrame(joined)
    assert(model.dim == 64)

    val dir = java.nio.file.Files.createTempDirectory("graft-lookup").toString + "/idx"
    IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"), embedder = model)
    // The index must hold the MODEL's vectors, not the hashing stand-in's.
    val probeText = docs.filter(col("doc_id") === 42L).select("text").head.getString(0)
    val stored = spark.read.parquet(dir)
      .filter(get_json_object(col("data_json"), "$.doc_id") === "42")
      .select("embedding").head.getSeq[Float](0)
    assert(stored == model.embedText(probeText).toSeq, "index must store model vectors")
    assert(stored != new HashingEmbedder(64).embedText(probeText).toSeq,
      "lifecycle must not silently route through the hashing stand-in")

    // Search with the same embedder: the probed doc is its own top hit.
    val hits = IndexPipeline.searchIndex(spark, dir, probeText, k = 3,
      asOf = java.sql.Date.valueOf("2024-03-02"), embedder = model).collect()
    assert(hits.length == 3 && hits.head.getAs[Long]("rank") == 1L)
    assert(math.abs(hits.head.getAs[Double]("similarity_score") - 1.0) < 1e-5)
    assert(hits.head.getAs[String]("data_json").contains("\"doc_id\":42"))

    // Batch search path through the same embedder.
    import spark.implicits._
    val batch = IndexPipeline.searchIndexBatch(spark, dir,
      Seq((42L, probeText)).toDF("query_id", "query_text"), k = 3,
      asOf = java.sql.Date.valueOf("2024-03-02"), embedder = model).collect()
    assert(batch.length == 3)
    assert(batch.head.getAs[String]("data_json").contains("\"doc_id\":42"))

    // Unknown text fails fast — never a silent fallback embedding.
    intercept[IllegalArgumentException](model.embedText("never seen before zz"))
  }

  test("pooled embedder: real inference arithmetic over broadcast word vectors") {
    import spark.implicits._
    // A tiny word2vec-style artifact with hand-checkable vectors.
    val words = Seq(
      ("spark", Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      ("table", Seq(0.0f, 2.0f, 0.0f, 0.0f)),
      ("query", Seq(0.0f, 0.0f, 3.0f, 0.0f)),
      ("scan", Seq(0.0f, 0.0f, 0.0f, 4.0f))).toDF("word", "embedding")
    val model = PooledEmbedder.fromDataFrame(words)
    assert(model.dim == 4)

    // mean of (spark, table) = (0.5, 1.0, 0, 0), L2-normalized
    val got = model.embedText("spark table")
    val n = math.sqrt(0.25 + 1.0)
    assert(got.toSeq == Seq((0.5 / n).toFloat, (1.0 / n).toFloat, 0.0f, 0.0f))
    // OOV tokens are skipped, not poisoned; token ORDER is irrelevant
    assert(model.embedText("spark zzz table").toSeq == got.toSeq)
    assert(model.embedText("table spark").toSeq == got.toSeq)
    // all-OOV text embeds to the zero vector
    assert(model.embedText("zzz yyy").forall(_ == 0.0f))
    // executor path ≡ driver path (the Embedder contract)
    val viaCol = Seq("spark table query").toDF("text")
      .select(model.embedCol(col("text")).as("e")).head.getSeq[Float](0)
    assert(viaCol == model.embedText("spark table query").toSeq)

    // Unseen TEXT embeds fine from seen tokens — the capability the pure
    // lookup table lacks; full index→search lifecycle runs through it.
    val docs = Seq((1L, "spark table"), (2L, "query scan"), (3L, "spark query"))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-pooled").toString + "/idx"
    IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"), embedder = model)
    val hits = IndexPipeline.searchIndex(spark, dir, "table spark", k = 1,
      asOf = java.sql.Date.valueOf("2024-03-02"), embedder = model).collect()
    assert(hits.head.getAs[String]("data_json").contains("\"doc_id\":1"),
      "order-permuted query must retrieve the bag-identical doc at rank 1")
    assert(math.abs(hits.head.getAs[Double]("similarity_score") - 1.0) < 1e-5)
  }

  test("flat index point deletes: serve drops tombstoned ids; compact rewrites only dirty days, ≡ fresh build") {
    import org.apache.hadoop.fs.Path
    val emb = Tables.embeddings(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-flatdel").toString + "/idx"
    // two appends: every ingest day (vec_id % 10) holds at least two files
    Seq(true, false).foreach(h => VectorIndex.append(
      VectorIndex.fromEmbeddings(emb.filter((col("vec_id") % 20 < 10) === h)), dir))
    val asOf = VectorIndex.maxIngestDate(spark, dir).get
    val qv = emb.filter(col("vec_id") === 3L).select("embedding").head.getSeq[Float](0)
    def topJsons(path: String): Seq[String] =
      VectorIndex.search(VectorIndex.loadRecent(spark, path, asOf), qv, k = 10)
        .collect().map(_.getAs[String]("data_json")).toSeq
    val baseline = topJsons(dir)
    def idOf(j: String): Long =
      """"vec_id":(\d+)""".r.findFirstMatchIn(j).get.group(1).toLong
    // takedown: the two nearest hits die
    val victims = baseline.take(2).map(idOf)
    VectorIndex.delete(spark, dir, emb.filter(col("vec_id").isin(victims: _*)).select("vec_id"))
    // pre-compaction serve: victims gone, survivors in baseline order
    val pre = topJsons(dir)
    assert(!pre.map(idOf).exists(victims.contains))
    assert(pre.take(8) == baseline.drop(2), "survivors keep their relative order")
    // batch serve honors the tombstones too
    val batchIds = graft.vector.IndexPipeline.searchIndexBatch(spark, dir,
      spark.sql("SELECT 1 AS query_id, 'probe text' AS query_text"), k = 50).collect()
      .map(r => idOf(r.getAs[String]("data_json")))
    assert(!batchIds.exists(victims.contains))
    // compact replaces ONLY the files holding a victim: every other file,
    // in a victim's day or not, keeps its path, length and mtime
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dayDirs = fs.listStatus(new Path(dir)).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("ingest_date=")).sorted
    def files: Map[String, (Long, Long)] = dayDirs.flatMap(d =>
      fs.listStatus(new Path(s"$dir/$d")).toSeq.filter(_.getPath.getName.endsWith(".parquet"))
        .map(st => s"$d/${st.getPath.getName}" -> (st.getLen, st.getModificationTime))).toMap
    val daysBefore = dayDirs
    val before = files
    val dirty = before.keySet.filter(f => spark.read.parquet(s"$dir/$f")
      .filter(col("vec_id").isin(victims: _*)).count() > 0)
    assert(dirty.nonEmpty && dirty.size <= victims.size)
    val dirtyDays = dirty.map(_.takeWhile(_ != '/'))
    assert((before.keySet -- dirty).exists(f => dirtyDays(f.takeWhile(_ != '/'))),
      "a victim's day holds a file without a victim")
    VectorIndex.compact(spark, dir)
    assert(!fs.exists(new Path(dir.stripSuffix("/") + "._tombstones")))
    val after = files
    assert(dayDirs == daysBefore, "no day directory may vanish")
    (before.keySet -- dirty).foreach(f =>
      assert(after.get(f).contains(before(f)), s"clean $f must keep its path, length and mtime"))
    dirty.foreach(f => assert(!after.contains(f), s"dirty $f must be replaced"))
    val fresh = after.keySet -- before.keySet
    assert(fresh.size <= dirty.size && fresh.forall(f => dirtyDays(f.takeWhile(_ != '/'))),
      s"each replacement lands in its dirty file's day: $fresh")
    // compacted layout ≡ a fresh build without the victims
    val dir2 = java.nio.file.Files.createTempDirectory("graft-flatdel2").toString + "/idx"
    VectorIndex.append(VectorIndex.fromEmbeddings(
      emb.filter(!col("vec_id").isin(victims: _*))), dir2)
    assert(topJsons(dir) == topJsons(dir2))
  }

  test("retention prunes stale ingest days out of search scope") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pipe2").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    IndexPipeline.indexRecords(docs, "text", "old", dir, java.sql.Date.valueOf("2024-01-01"))
    IndexPipeline.indexRecords(docs, "text", "new", dir, java.sql.Date.valueOf("2024-02-01"))
    val probe = docs.select("text").head.getString(0)
    val hits = IndexPipeline.searchIndex(spark, dir, probe, k = 5,
      asOf = java.sql.Date.valueOf("2024-02-03")).collect()
    assert(hits.nonEmpty)
    hits.foreach(h => assert(h.getAs[String]("data_type") == "new",
      "7-day window must exclude the January partition"))
  }
}
