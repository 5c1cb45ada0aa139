package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions.col
import graft.multimodal.{Multimodal, PhashIndex, PngCodec}
import graft.ops.Dedup
import graft.sources.KeyedSidecar
import graft.text.LshIndex
import graft.vector.IvfIndex

object IngestGate {
  val ResidentDocs = 400
  /** Read-after-write lookups per delivery, so their median has samples
    * (with three it spread 11-45 % across seeds).
    */
  val Lookups = 7
  /** Residents with id % 4 == 3 may be deleted; all others may be re-offered. */
  def deletable(id: Long): Boolean = id % 4 == 3
  def imageIds: IndexedSeq[Long] = (0L until ResidentDocs by 3).toIndexedSeq
  def residentEmbeddings(seed: Long): Seq[Gen.Emb] =
    Gen.embeddings(seed, ResidentDocs, salt = 7000000L)
  /** One delivery: inputs for the three gates, the planted verdicts, the
    * payload bytes of the rows the gates should accept, the survivors the
    * read-after-write lookups must find, and the accepted ids per gate.
    */
  final case class Delivery(text: Seq[(Long, String)], vecs: Seq[Gen.Emb],
      imgs: Seq[(Long, Array[Byte])], expected: Map[String, Map[Long, String]],
      payload: Long, lookups: Seq[(Long, Array[Float])], freshIds: Map[String, Seq[Long]])
}

/** `ingest_gate`: seeded deliveries through the three persisted ingest gates
  * (`LshIndex.ingestBatch`, `IvfIndex.dedupIngest`, `PhashIndex.dedupIngest`),
  * each followed by read-after-write lookups of [[Lookups]] just-ingested survivors,
  * then by deletes of a seeded id set and a `compact` of all three indexes
  * (every delivery, so a run of one delivery still measures compaction). Every delivery carries rows whose verdict is known by
  * construction, and the benchmark checks each one. There is no warm-up:
  * each delivery is a batch job, and the first one in a process pays the
  * gates' first-use costs as a daily ingest job would.
  */
final class IngestGate(ctx: Ctx) extends Workload {
  import IngestGate._
  import ctx.spark
  import spark.implicits._
  val NProbe = 4
  private var lsh, ivf, phash = ""
  private var docs: IndexedSeq[Gen.Doc] = IndexedSeq.empty
  private var embs: IndexedSeq[Gen.Emb] = IndexedSeq.empty
  private var imgIds: IndexedSeq[Long] = IndexedSeq.empty
  private val images = mutable.Map[Long, Array[Byte]]()

  private def png(px: Array[Int], filter: Int = 0): Array[Byte] =
    PngCodec.encodeGray(px, 16, 16, filterType = filter)

  def setup(dir: String): Unit = {
    lsh = s"$dir/lsh"; ivf = s"$dir/ivf"; phash = s"$dir/phash"
    docs = Gen.residentDocs(ctx.seed, ResidentDocs).toIndexedSeq
    embs = residentEmbeddings(ctx.seed).toIndexedSeq
    imgIds = imageIds
    imgIds.foreach(id => images(id) = png(Gen.pixels(ctx.seed, id)))
    LshIndex.build(spark, docs.map(d => (d.doc_id, d.text)).toDF("doc_id", "text"), lsh)
    IvfIndex.build(spark, embs.toDF(), ivf, nCells = 8, kmeansIters = 1)
    PhashIndex.build(spark, media(imgIds.map(id => id -> images(id))), phash)
  }

  private def media(rows: Seq[(Long, Array[Byte])]): Dataset[Multimodal.MediaRow] =
    rows.map { case (id, b) => Multimodal.MediaRow(id, "image", b) }.toDS()

  private def delivery(d: Int): Delivery = {
    val r = Gen.rng(ctx.seed, 8000000L + d)
    val base = 1000000000L + (d + 1) * 100000L
    def pick(pool: IndexedSeq[Long], n: Int): Seq[Long] = r.shuffle(pool).take(n)
    // fixed length, so the accepted payload (write_amp's base) is the same
    // for every seed
    def fresh(i: Int): String = (0 until 40).map(j =>
      if (j % 2 == 0) Gen.Vocab(r.nextInt(30)) else s"u${ctx.seed}_${d}_${i}_$j").mkString(" ")

    // text: verbatim re-offers, shingle-identical near copies, 30-word splices
    // of a resident, two within-batch copy pairs, fresh docs
    val plantable = docs.map(_.doc_id).filter(_ % 4 == 0)
    val src = pick(plantable, 9).map(id => docs(id.toInt).text.split(" "))
    val copies = Seq(fresh(1000), fresh(1001))
    val text = mutable.ArrayBuffer[(Long, String, String)]()
    src.take(3).foreach(w => text += ((0L, w.mkString(" "), "exact_dup")))
    src.slice(3, 6).foreach(w => text += ((0L, (w :+ w(w.length - 2)).mkString(" "), "near_dup")))
    src.slice(6, 9).foreach(w => text += ((0L,
      (w.slice(10, 40) ++ (0 until 30).map(j => s"s${ctx.seed}_${d}_${j}_${r.nextInt(1000)}"))
        .mkString(" "), "overlap_dup")))
    copies.foreach(c => text ++= Seq((0L, c, "ingested"), (0L, c, "batch_dup")))
    (0 until 11).foreach(i => text += ((0L, fresh(i), "ingested")))
    val textRows = text.zipWithIndex.map { case ((_, t, v), i) => (base + i, t, v) }

    // vectors: resident re-offers and 1e-4-noise near copies (near_dup), two
    // within-batch copy pairs, fresh random vectors
    val vsrc = pick(embs.map(_.vec_id).filterNot(deletable), 6).map(id => embs(id.toInt))
    val vcopies = Seq(Gen.randomVec(r), Gen.randomVec(r))
    val vec = mutable.ArrayBuffer[(Array[Float], String)]()
    vsrc.take(3).foreach(e => vec += ((e.embedding, "near_dup")))
    vsrc.drop(3).foreach(e => vec += ((e.embedding.map(x =>
      x + (r.nextGaussian() * 1e-4).toFloat), "near_dup")))
    vcopies.foreach(v => vec ++= Seq((v, "ingested"), (v.clone(), "batch_dup")))
    (0 until 14).foreach(_ => vec += ((Gen.randomVec(r), "ingested")))
    val vecRows = vec.zipWithIndex.map { case ((v, verdict), i) =>
      (Gen.Emb(base + 50000 + i, v, i % 10), verdict) }

    // images: verbatim re-offers, re-encodings (other PNG filter), two
    // within-batch copy pairs, fresh random images
    val isrc = pick(imgIds.filterNot(deletable), 4)
    val img = mutable.ArrayBuffer[(Array[Byte], String)]()
    isrc.take(2).foreach(id => img += ((images(id), "near_dup")))
    isrc.drop(2).foreach(id => img += ((png(Gen.pixels(ctx.seed, id), filter = 1), "near_dup")))
    (0 until 2).foreach { _ =>
      val px = Array.fill(256)(r.nextInt(256))
      img ++= Seq((png(px), "ingested"), (png(px, filter = 1), "batch_dup"))
    }
    (0 until 4).foreach(_ => img += ((png(Array.fill(256)(r.nextInt(256))), "ingested")))
    val imgRows = img.zipWithIndex.map { case ((b, v), i) => (base + 80000 + i, b, v) }

    def accepted[T](rows: Seq[T], verdict: T => String) = rows.filter(verdict(_) == "ingested")
    val freshText = accepted[(Long, String, String)](textRows.toSeq, _._3)
    val freshVec = accepted[(Gen.Emb, String)](vecRows.toSeq, _._2)
    val freshImg = accepted[(Long, Array[Byte], String)](imgRows.toSeq, _._3)
    Delivery(
      textRows.map(t => (t._1, t._2)).toSeq, vecRows.map(_._1).toSeq,
      imgRows.map(t => (t._1, t._2)).toSeq,
      Map("text" -> textRows.map(t => t._1 -> t._3).toMap,
        "vector" -> vecRows.map(t => t._1.vec_id -> t._2).toMap,
        "image" -> imgRows.map(t => t._1 -> t._3).toMap),
      freshText.map(_._2.getBytes("UTF-8").length.toLong).sum +
        freshVec.size * 4L * Gen.Dim + freshImg.map(_._2.length.toLong).sum,
      freshVec.takeRight(Lookups).map(e => e._1.vec_id -> e._1.embedding),
      Map("text" -> freshText.map(_._1), "vector" -> freshVec.map(_._1.vec_id),
        "image" -> freshImg.map(_._1)))
  }

  private def verdicts(df: DataFrame, idCol: String): Map[Long, String] =
    df.select(col(idCol), col("verdict")).as[(Long, String)].collect().toMap

  /** The delivery's within-batch near-dup pairs (the `Dedup` pass the LSH
    * gate's scaladoc prescribes for sources that self-plagiarize), then the
    * three gates.
    */
  private def runGates(d: Delivery): (Set[(Long, Long)], Map[String, Map[Long, String]]) = (
    ctx.span("ops", "minhash_pairs")(Dedup.minhashDupPairs(d.text.toDF("doc_id", "text"))
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet),
    Map(
    "text" -> ctx.span("text", "lsh_gate")(verdicts(LshIndex.ingestBatch(spark, lsh,
      d.text.toDF("doc_id", "text"), winnowMinShared = 3), "doc_id")),
    "vector" -> ctx.span("vector", "ivf_gate")(verdicts(IvfIndex.dedupIngest(spark, ivf,
      d.vecs.toDF(), threshold = 0.95, nProbe = NProbe), "vec_id")),
    "image" -> ctx.span("multimodal", "phash_gate")(verdicts(PhashIndex.dedupIngest(spark,
      phash, media(d.imgs)), "doc_id"))))

  private def indexFiles: Map[String, Int] = Map("text" -> lsh, "vector" -> ivf,
    "image" -> phash).map { case (g, p) => g -> files(new java.io.File(p)).size }

  private def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(files) else Seq(f)

  private def absent(path: String, idCol: String, ids: Seq[Long]): Boolean =
    spark.read.parquet(path).select(col(idCol)).filter(col(idCol).isin(ids: _*)).count() == 0

  def measure(rec: Rec, seconds: Double): Unit = {
    val r = Gen.rng(ctx.seed, 9000000L)
    val delDocs = r.shuffle(docs.map(_.doc_id).filter(deletable))
    val delVecs = r.shuffle(embs.map(_.vec_id).filter(deletable))
    val delImgs = r.shuffle(imgIds.filter(deletable))
    val b0 = FsStats.bytesWritten
    loop(rec, seconds) { i =>
      val d = delivery(i)
      rec.add("rows_offered", d.text.size + d.vecs.size + d.imgs.size)
      // files each gate creates, counted outside the timed call when tracing
      val files0 = if (ctx.tracer.enabled) indexFiles else Map.empty[String, Int]
      val done = rec.op("delivery")(ctx.span("bench", "delivery")(runGates(d)))
      files0.foreach { case (g, n) => rec.add(s"files_created.$g", indexFiles(g) - n) }
      done.foreach { case (pairs, got) =>
        rec.add("payload_bytes", d.payload.toDouble)
        val copies = d.expected("text").collect { case (id, "batch_dup") => (id - 1, id) }
        ctx.checks("ingest_gate.text.batch_copies_paired", copies.forall(pairs.contains),
          s"delivery $i: copy pairs $copies, found $pairs")
        Seq("text", "vector", "image").foreach { g =>
          val bad = d.expected(g).filter { case (id, v) => !got(g).get(id).contains(v) }
          ctx.checks(s"ingest_gate.$g.planted_verdicts", bad.isEmpty && got(g).size ==
            d.expected(g).size, s"$g delivery $i: ${bad.take(3).map { case (id, v) =>
              s"$id expected $v got ${got(g).get(id)}" }.mkString("; ")}")
        }
      }
      d.lookups.foreach { case (id, v) =>
        rec.op("read_after_write")(ctx.span("vector", "read_after_write")(
          IvfIndex.search(spark, ivf, v.toSeq, k = 1, nProbe = NProbe).collect()))
          .foreach(hits => ctx.checks("ingest_gate.read_after_write_finds_survivor",
            hits.headOption.exists(_.getAs[Long]("vec_id") == id), s"lookup of $id gave ${
              hits.headOption.map(_.getAs[Long]("vec_id"))}"))
      }
      // seeded residents plus one survivor the delivery just added
      val docIds = delDocs.slice(2 * i, 2 * i + 2) ++ d.freshIds("text").take(1)
      val vecIds = delVecs.slice(2 * i, 2 * i + 2) ++ d.freshIds("vector").take(1)
      val imgDel = delImgs.slice(i, i + 1) ++ d.freshIds("image").take(1)
      rec.op("compact")(ctx.span("bench", "compact") {
        ctx.span("text", "lsh_compact") {
          LshIndex.delete(spark, lsh, docIds.toDF("doc_id")); LshIndex.compact(spark, lsh)
        }
        ctx.span("vector", "ivf_compact") {
          IvfIndex.delete(spark, ivf, vecIds.toDF("vec_id")); IvfIndex.compact(spark, ivf)
        }
        ctx.span("multimodal", "phash_compact") {
          PhashIndex.delete(spark, phash, imgDel.toDF("doc_id")); PhashIndex.compact(spark, phash)
        }
      }).foreach { _ =>
        // the check's own jobs run in a span of their own, outside the ops
        ctx.checks("ingest_gate.deleted_ids_stay_gone_after_compact", ctx.span("trace", "check")(
          absent(s"$lsh/ids", "doc_id", docIds) && absent(s"$lsh/sizes", "doc_id", docIds) &&
            absent(s"$ivf/vectors", "vec_id", vecIds) && absent(s"$ivf/ids", "vec_id", vecIds) &&
            absent(s"$phash/hashes", "doc_id", imgDel) &&
            absent(s"$phash/probes", "doc_id", imgDel)),
          s"a deleted id is back after compact (delivery $i)")
      }
    }
    rec.add("bytes_written", (FsStats.bytesWritten - b0).toDouble)
  }

  def endToEnd(rec: Rec): Map[String, Double] = Map(
    "op_mean_ms" -> Stats.mean(rec.ms("delivery")),
    "lookup_p50_ms" -> Stats.median(rec.ms("read_after_write")),
    "write_amp" -> rec.count("bytes_written") / rec.count("payload_bytes"),
    "ingest_batch_p50_s" -> Stats.median(rec.ms("delivery")) / 1000,
    "ingest_rows_per_s" -> rec.count("rows_offered") / (rec.wallMs / 1000),
    "read_after_write_p50_ms" -> Stats.median(rec.ms("read_after_write")),
    "compact_s" -> Stats.median(rec.ms("compact")) / 1000,
    "deliveries" -> rec.nDone("delivery").toDouble,
    "compact_cycles" -> rec.nDone("compact").toDouble)

  /** The sidecar tables the gates point-read, keyed for the size switch. */
  private def sidecars: Seq[(String, String)] = Seq(
    "lsh_hashes" -> s"$lsh/hashes", "lsh_sizes" -> s"$lsh/sizes",
    "lsh_shingles" -> s"$lsh/shingles", "lsh_winnow" -> s"$lsh/winnow",
    "lsh_ids" -> s"$lsh/ids", "ivf_ids" -> s"$ivf/ids", "phash_hashes" -> s"$phash/hashes")

  def layers(a: Attribution, rec: Rec): Map[String, Double] = {
    def named(key: String) = a.spans.filter(_.key == key)
    def perSpan(key: String)(f: Span => Double) = Stats.mean(named(key).map(f))
    val gates = Seq("text.lsh_gate", "vector.ivf_gate", "multimodal.phash_gate")
    val opsPairs = named("ops.minhash_pairs")
    val gateOf = Map("text.lsh_gate" -> "text", "vector.ivf_gate" -> "vector",
      "multimodal.phash_gate" -> "image")
    val compacts = Seq("text.lsh_compact", "vector.ivf_compact", "multimodal.phash_compact")
    val nDeliveries = math.max(1, named("bench.delivery").size).toDouble
    val nCompacts = math.max(1, named("text.lsh_compact").size).toDouble
    def sum(keys: Seq[String])(f: Span => Double) = keys.flatMap(named).map(f).sum
    val gateLayer = gates.flatMap { g =>
      val short = g.split('.')(1)
      val prefix = g.split('.')(0)
      Seq(s"$prefix.${short}_ms" -> perSpan(g)(_.wallMs),
        s"$prefix.${short}_jobs" -> perSpan(g)(a.jobsOf(_).size.toDouble),
        s"$prefix.${short}_driver_only_ms" -> perSpan(g)(a.driverOnlyMs),
        s"$prefix.${short}_shuffle_mb" -> perSpan(g)(a.jobsOf(_).map(_.shuffleWrite).sum / 1e6),
        s"sources.bytes_written_per_batch.$short" -> perSpan(g)(_.bytesWritten.toDouble),
        s"sources.files_created_per_batch.$short" ->
          rec.count(s"files_created.${gateOf(g)}") / nDeliveries)
    }
    gateLayer.toMap ++ sidecars.map { case (n, p) =>
      s"sources.sidecar_bucketed.$n" -> (if (KeyedSidecar.isBucketed(spark, p)) 1.0 else 0.0)
    } ++ Map(
      "ops.minhash_pairs_ms" -> Stats.mean(opsPairs.map(_.wallMs)),
      "ops.minhash_pairs_jobs" -> Stats.mean(opsPairs.map(a.jobsOf(_).size.toDouble)),
      "sources.resident_read_mb_per_batch" ->
        sum(gates)(a.jobsOf(_).map(_.inputBytes).sum / 1e6) / nDeliveries,
      "sources.bytes_written_per_batch" -> sum(gates)(_.bytesWritten.toDouble) / nDeliveries,
      "sources.files_created_per_batch" -> Seq("text", "vector", "image")
        .map(g => rec.count(s"files_created.$g")).sum / nDeliveries,
      "sources.compact_bytes_rewritten" -> sum(compacts)(_.bytesWritten.toDouble) / nCompacts,
      "sources.compact_jobs" -> sum(compacts)(a.jobsOf(_).size.toDouble) / nCompacts,
      "vector.read_after_write_jobs" ->
        perSpan("vector.read_after_write")(a.jobsOf(_).size.toDouble))
  }

  private def dirBytes(p: String): Long = files(new java.io.File(p)).map(_.length).sum

  def sizes: Map[String, Any] = Map(
    "resident_docs" -> ResidentDocs, "resident_vectors" -> ResidentDocs,
    "resident_images" -> imgIds.size,
    "delivery_rows" -> Map("text" -> 24, "vector" -> 24, "image" -> 12),
    "keyed_sidecar_min_prune_bytes" -> KeyedSidecar.MinPruneBytes,
    "sidecars_end" -> sidecars.map { case (n, p) =>
      n -> Map("bytes" -> dirBytes(p), "bucketed" -> KeyedSidecar.isBucketed(spark, p),
        "side_of_bound" -> (if (dirBytes(p) >= KeyedSidecar.MinPruneBytes) "above" else "below"))
    }.toMap)
}
