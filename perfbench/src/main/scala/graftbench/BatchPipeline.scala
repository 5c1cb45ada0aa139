package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Relational, Similarity, TextAnalysis}
import graft.text.{LshIndex, NgramLm}
import graft.vector.{HashingEmbedder, IndexPipeline, IvfIndex, ServeIndex, VectorIndex}

/** `batch_pipeline`: corpus curation over a seeded, amplified corpus, one pass
  * after another until the run's time is up. There is no warm-up: a curation
  * run is a batch job started once per corpus, so it pays first-use costs. A pass runs, in order: clean,
  * MinHash dup pairs, dup survivors, the n-gram LM quality gate, semantic
  * dedup, the LSH / IVF / serve index builds, a probe-all serve batch search,
  * and the exact-quantile engine over `lineitem`. Each stage's output is
  * reduced to (rows, content digest); every pass must reproduce them.
  */
object BatchPipeline {
  val BaseDocs = 2500
  val BaseEmbeddings = 2000
  val BaseOrders = 15000
  val Amplify = 2
  val Queries = 50
}

final class BatchPipeline(ctx: Ctx) extends Workload {
  import BatchPipeline._
  import ctx.spark
  import spark.implicits._
  private var in = ""
  private var out = ""
  private var rows = Map.empty[String, Long]
  private var bytes = Map.empty[String, Long]
  private var textBytes = 0L
  private var firstDigests: Option[Map[String, String]] = None
  var digests: Map[String, String] = Map.empty

  def setup(dir: String): Unit = {
    in = s"$dir/in"; out = s"$dir/out"
    val docs = Gen.amplifyDocs(Gen.corpusDocs(ctx.seed, BaseDocs), Amplify)
    textBytes = docs.map(_.text.getBytes("UTF-8").length.toLong).sum
    Gen.write(docs.toDF(), s"$in/documents.parquet")
    Gen.write(Gen.amplifyEmb(Gen.embeddings(ctx.seed, BaseEmbeddings), Amplify).toDF(),
      s"$in/embeddings.parquet")
    Gen.write(Gen.lineitem(spark, ctx.seed, BaseOrders * Amplify, 100 * Amplify,
      2000 * Amplify)._1, s"$in/lineitem.parquet")
    rows = Seq("documents", "embeddings", "lineitem").map(t =>
      t -> spark.read.parquet(s"$in/$t.parquet").count()).toMap
    bytes = rows.keys.map(t => t -> dirBytes(s"$in/$t.parquet")).toMap
  }

  private def dirBytes(p: String): Long =
    Option(new java.io.File(p).listFiles).toSeq.flatten.map(_.length).sum

  private def digest(df: DataFrame): String = {
    val r = df.select(xxhash64(df.columns.toIndexedSeq.map(c => col(s"`$c`")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast("decimal(38,0)"))).head()
    s"${r.getLong(0)}:${r.get(1)}"
  }

  /** One pass; returns each stage's (rows:digest). */
  private def pass(dir: String, check: Boolean, rec: Rec): Map[String, String] = {
    def read(t: String) = spark.read.parquet(s"$in/$t.parquet")
    val docs = read("documents")
    val emb = read("embeddings")
    val lineitem = read("lineitem")
    def stage(layer: String, name: String)(body: => String): Option[(String, String)] = {
      val key = s"$layer.$name"
      val t0 = System.nanoTime()
      val d = ctx.span(layer, name)(body)
      rec.samples.getOrElseUpdate(key, collection.mutable.ArrayBuffer()) +=
        (System.nanoTime() - t0) / 1e6
      if (d.isEmpty) None else Some(key -> d)
    }
    val flat = s"$dir/flat"
    val queries = docs.select(col("doc_id").as("query_id"), col("text").as("query_text"))
      .filter(col("doc_id") % 97 === 0).limit(Queries)
    val embedder = new HashingEmbedder()
    val stages = Seq(
      stage("ops", "clean_corpus")(digest(TextAnalysis.cleanCorpus(docs))),
      stage("ops", "minhash_pairs")(digest(Dedup.minhashDupPairs(docs))),
      stage("ops", "dup_survivors")(digest(Dedup.qualitySurvivors(docs))),
      stage("ops", "lm_gate") {
        NgramLm.buildAt(spark, docs, s"$dir/lm")
        digest(NgramLm.lmGateFrom(spark, docs, s"$dir/lm"))
      },
      stage("ops", "semantic_dedup")(digest(Similarity.semanticDedup(emb, 0.95))),
      stage("text", "lsh_build") {
        LshIndex.build(spark, docs.select(col("doc_id"), col("text")), s"$dir/lsh"); ""
      },
      stage("vector", "ivf_build") {
        IvfIndex.build(spark, emb, s"$dir/ivf", nCells = 16); ""
      },
      stage("vector", "serve_build") {
        VectorIndex.append(VectorIndex.fromEmbeddings(emb), flat)
        ServeIndex.build(spark, flat, "ivf", nCells = 8); ""
      },
      stage("vector", "serve_search") {
        val q = queries.select(col("query_id"), embedder.embedCol(col("query_text")).as("q_emb"))
        val got = ServeIndex.searchBatch(spark, flat, "ivf", q, k = 10, nProbe = 8)
          .getOrElse(sys.error("the serve sidecar must answer the probe-all batch"))
          .collect().map(_.toString).sorted.toSeq
        if (check) {
          val brute = IndexPipeline.searchIndexBatch(spark, flat, queries, k = 10)
            .collect().map(_.toString).sorted.toSeq
          ctx.checks("batch_pipeline.serve_probe_all_equals_brute_force",
            got == brute && got.nonEmpty,
            s"serve ${got.size} rows vs brute force ${brute.size}; first diff " +
              got.zipAll(brute, "", "").find { case (a, b) => a != b })
        }
        s"${got.size}:${got.mkString("\n").hashCode}"
      },
      stage("ops", "quantiles")(digest(Relational.quantiles(lineitem))))
    stages.flatten.toMap
  }

  def measure(rec: Rec, seconds: Double): Unit = loop(rec, seconds) { i =>
    val b0 = FsStats.bytesWritten
    rec.op("pipeline")(ctx.span("bench", "pipeline")(
      pass(s"$out/pass$i", check = i == 0, rec))).foreach { d =>
      rec.add("bytes_written", (FsStats.bytesWritten - b0).toDouble)
      rec.add("payload_bytes", textBytes + 2.0 * rows("embeddings") * 4 * Gen.Dim)
      rec.add("rows", (rows("documents") + rows("embeddings") + rows("lineitem")).toDouble)
      ctx.checks("batch_pipeline.digests_identical_across_passes",
        firstDigests.forall(_ == d), s"pass $i digests differ from pass 0")
      if (firstDigests.isEmpty) firstDigests = Some(d)
      digests = d
    }
  }

  val Stages: Seq[String] = Seq("ops.clean_corpus", "ops.minhash_pairs", "ops.dup_survivors",
    "ops.lm_gate", "ops.semantic_dedup", "text.lsh_build", "vector.ivf_build",
    "vector.serve_build", "vector.serve_search", "ops.quantiles")

  def endToEnd(rec: Rec): Map[String, Double] = Map(
    "op_mean_ms" -> Stats.mean(rec.ms("pipeline")),
    "lookup_p50_ms" -> Stats.median(rec.ms("vector.serve_search")),
    "write_amp" -> rec.count("bytes_written") / rec.count("payload_bytes"),
    "pipeline_s" -> Stats.median(rec.ms("pipeline")) / 1000,
    "rows_per_s" -> rec.count("rows") / (rec.ms("pipeline").sum / 1000),
    "passes" -> rec.nDone("pipeline").toDouble) ++
    Stages.map(s => s"stage_p50_s.$s" -> Stats.median(rec.ms(s)) / 1000)

  def layers(a: Attribution, rec: Rec): Map[String, Double] =
    Stages.filterNot(_ == "vector.serve_search").map(s =>
      s"${s}_s" -> Stats.mean(a.spans.filter(_.key == s).map(_.wallMs / 1000))).toMap

  def sizes: Map[String, Any] = Map(
    "amplification" -> Amplify,
    "base_rows" -> Map("documents" -> BaseDocs, "embeddings" -> BaseEmbeddings,
      "orders" -> BaseOrders),
    "input_rows" -> rows, "input_parquet_bytes" -> bytes, "document_text_bytes" -> textBytes,
    "serve_queries" -> Queries, "stage_digests" -> digests)
}
