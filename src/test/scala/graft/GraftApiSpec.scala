package graft

import scala.jdk.CollectionConverters._
import graft.api.GraftApi

class GraftApiSpec extends SparkSpec {

  test("typed envelope carries results, total, and a resume cursor") {
    val page = GraftApi.getActiveCompanies(spark, sf)
    assert(page.results.size == 10 && page.total == 10L && page.after.isDefined)
    assert(page.results.head.hs_lastmodifieddate >= page.results.last.hs_lastmodifieddate)
  }

  test("keyset pagination: two pages tile the first 2k of the full ordering") {
    val p1 = GraftApi.getTickets(spark, sf, limit = 20)
    assert(p1.after.isDefined)
    val p2 = GraftApi.getTickets(spark, sf, limit = 20, after = p1.after)
    val both = GraftApi.getTickets(spark, sf, limit = 40)
    assert((p1.results ++ p2.results).map(_.id) == both.results.map(_.id))
    assert(p1.results.map(_.id).toSet.intersect(p2.results.map(_.id).toSet).isEmpty)
  }

  test("pagination terminates: short page returns no cursor") {
    val closedTotal = graft.crm.CrmOps.ticketsClosed(spark, sf, Int.MaxValue).count()
    val bigPage = GraftApi.getTickets(spark, sf, criteria = "closed",
      limit = closedTotal.toInt + 100)
    assert(bigPage.after.isEmpty)
    assert(bigPage.total == closedTotal)
  }

  test("read→index→search lifecycle: read tools index their results, search finds them") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-rw").toString + "/idx"
    val sink = Some(GraftApi.IndexSink(dir, java.sql.Date.valueOf("2024-03-01")))
    // §3.2 step 6: every read tool appends its result rows to the index.
    val companies = GraftApi.getActiveCompanies(spark, sf, 10, sink)
    val tickets = GraftApi.getTickets(spark, sf, limit = 10, sink = sink)
    val contacts = GraftApi.getActiveContacts(spark, sf, 10, sink)
    assert(companies.results.nonEmpty && tickets.results.nonEmpty && contacts.results.nonEmpty)

    // §3.1: a search over the accumulated index retrieves the read rows.
    val t = tickets.results.head
    val hits = GraftApi.searchData(spark, dir, t.subject, 10)
    assert(hits.results.head.similarity_score > 0.99)
    assert(hits.results.exists(h =>
      h.data_type == "ticket" && h.data_json.contains(s""""id":"${t.id}"""")))

    val c = companies.results.head
    val cHits = GraftApi.searchData(spark, dir, c.name, 10)
    assert(cHits.results.exists(h =>
      h.data_type == "company" && h.data_json.contains(s""""id":"${c.id}"""")))

    // Dual-fidelity: the index stores the FULL record JSON even though a
    // tool response may truncate (conversation_handler.py:63-67).
    assert(hits.results.head.data_json.startsWith("{"))
  }

  test("the index leg stores exactly the page each read tool returned, for one extra job") {
    import org.apache.spark.sql.Encoder
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-api-leg").toString + "/idx"
    var day = 0
    def stored(d: java.sql.Date): Seq[String] = spark.read.parquet(dir)
      .filter(col("ingest_date") === lit(d)).select("data_json").as[String].collect().toSeq.sorted
    def rendered[T <: Product: Encoder](rows: Seq[T]): Seq[String] =
      spark.createDataset(rows).select(to_json(struct(col("*")))).as[String]
        .collect().toSeq.sorted
    def check[T <: Product: Encoder](tool: String)(
        call: Option[GraftApi.IndexSink] => GraftApi.Page[T]): Unit = {
      day += 1
      val d = java.sql.Date.valueOf(java.time.LocalDate.of(2024, 3, day))
      val (plain, plainJobs) = JobCounter(spark)(call(None))
      val (page, sinkJobs) = JobCounter(spark)(call(Some(GraftApi.IndexSink(dir, d))))
      assert(page.results.nonEmpty && page.results == plain.results, tool)
      assert(stored(d) == rendered(page.results), s"$tool: the index must hold the returned page")
      assert(sinkJobs <= plainJobs + 1,
        s"$tool: $sinkJobs Spark jobs with a sink, $plainJobs without")
    }
    check("companies")(k => GraftApi.getActiveCompanies(spark, sf, 10, k))
    check("contacts")(k => GraftApi.getActiveContacts(spark, sf, 10, k))
    check("tickets")(k => GraftApi.getTickets(spark, sf, limit = 10, sink = k))
    check("emails")(k => GraftApi.getRecentEmails(spark, sf, limit = 10, sink = k))
    check("conversations")(k => GraftApi.getRecentConversations(spark, sf, limit = 5, sink = k))
    check("activity")(k => GraftApi.getCompanyActivity(spark, sf, fanoutCap = 5, sink = k))
    check("threads")(k => GraftApi.getTicketThreads(spark, sf, nTickets = 5, sink = k))
  }

  test("emails paged scan: keyset resume covers the suffix without overlap; body coalesces") {
    val p1 = GraftApi.getRecentEmails(spark, sf, limit = 20)
    assert(p1.results.size == 20 && p1.after.isDefined)
    val p2 = GraftApi.getRecentEmails(spark, sf, limit = 20, after = p1.after)
    assert(p2.results.size == 20)
    assert(p1.results.map(_.id).toSet.intersect(p2.results.map(_.id).toSet).isEmpty)
    // Two pages == the first 40 of one big page, in order (S4 offset-resume).
    val big = GraftApi.getRecentEmails(spark, sf, limit = 40)
    assert((p1.results ++ p2.results).map(_.id) == big.results.map(_.id))
    // R3: both coalesce branches appear — plain text when present, html fallback.
    val bodies = (p1.results ++ p2.results).map(_.body)
    assert(bodies.exists(_.startsWith("shipped qty ")) && bodies.exists(_.startsWith("<p>order ")))
  }

  test("all nine tool equivalents return typed pages; errors become envelopes") {
    // 4: conversations, with and without the snapshot cache.
    val direct = GraftApi.getRecentConversations(spark, sf)
    assert(direct.results.nonEmpty)
    assert(direct.results.forall(c =>
      c.first_msg_truncated == null || c.first_msg_truncated.length <= 200))
    val cacheDir = java.nio.file.Files.createTempDirectory("graft-api-tc").toString + "/t"
    val tc = new graft.crm.ThreadCache(spark, cacheDir)
    val first = GraftApi.getRecentConversations(spark, sf, cache = Some(tc))
    val cached = GraftApi.getRecentConversations(spark, sf, cache = Some(tc))
    assert(cached.results == first.results, "cache-served read must reproduce the snapshot")
    // 5/6: company activity + ticket threads.
    assert(GraftApi.getCompanyActivity(spark, sf, fanoutCap = 5).results.nonEmpty)
    assert(GraftApi.getTicketThreads(spark, sf, nTickets = 5).results.nonEmpty)
    // 7/8: create reports split into exists/insert.
    val cc = GraftApi.createCompanies(spark, sf)
    assert(cc.results.map(_.action).toSet == Set("exists", "insert"))
    assert(cc.results.filter(_.action == "exists").forall(_.existing_id.nonEmpty))
    assert(GraftApi.createContacts(spark, sf).results.nonEmpty)
    // error envelope: invalid criteria is a structured error, not a throw.
    val err = GraftApi.guarded(GraftApi.getTickets(spark, sf, criteria = "bogus"))
    assert(err.isLeft && err.left.exists(_.error.contains("Invalid criteria")))
    assert(GraftApi.guarded(GraftApi.getTickets(spark, sf, limit = 3)).isRight)
  }

  test("search facade returns ranked typed hits over a built index") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api").toString + "/idx"
    graft.vector.IndexPipeline.indexRecords(
      Tables.documents(spark, sf), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    val probe = Tables.documents(spark, sf)
      .select("text").head.getString(0)
    val page = GraftApi.searchData(spark, dir, probe, 5)
    assert(page.results.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(page.results.head.similarity_score > 0.99)
  }

  // ---- explicit ANN serving API (ServeIndex) vs the flat search tool ----

  /** Bitwise image of search hits: rank, raw IEEE bits of the score,
    * payload columns.
    */
  private def hitBits(hits: Seq[GraftApi.SearchHit]) =
    hits.map(h => (h.rank, java.lang.Double.doubleToRawLongBits(h.similarity_score),
      h.data_type, h.data_json))

  private def batchBits(hits: Seq[GraftApi.BatchSearchHit]) =
    hits.map(h => (h.query_id, h.rank,
      java.lang.Double.doubleToRawLongBits(h.similarity_score), h.data_type, h.data_json))

  /** The flat search tool's hits, bitwise. */
  private def flatBits(dir: String, text: String, k: Int = 5, asOf: java.sql.Date = null) =
    hitBits(GraftApi.searchData(spark, dir, text, k, asOf).results)

  private def flatBatchBits(dir: String, texts: Seq[(Long, String)], k: Int = 5) =
    batchBits(GraftApi.searchDataBatch(spark, dir, texts, k).results)

  private val embedder = new graft.vector.HashingEmbedder()

  /** `ServeIndex.search` for a query text, embedded as the search tool
    * embeds it; None when the sidecar cannot answer.
    */
  private def serveOpt(dir: String, kind: String, text: String, nProbe: Int, refine: Int,
      k: Int = 5, asOf: java.sql.Date = null): Option[Seq[GraftApi.SearchHit]] = {
    import spark.implicits._
    graft.vector.ServeIndex.search(spark, dir, kind, embedder.embedText(text).toSeq, k,
      nProbe, refine, asOf).map(_.as[GraftApi.SearchHit].collect().toSeq)
  }

  private def serve(dir: String, kind: String, text: String, nProbe: Int, refine: Int,
      k: Int = 5): Seq[GraftApi.SearchHit] =
    serveOpt(dir, kind, text, nProbe, refine, k)
      .getOrElse(fail(s"the $kind sidecar must answer a current-anchor query"))

  /** `ServeIndex.searchBatch` over query texts, embedded as the batch tool
    * embeds them.
    */
  private def serveBatchOpt(dir: String, kind: String, texts: Seq[(Long, String)],
      nProbe: Int, refine: Int, k: Int = 5): Option[Seq[GraftApi.BatchSearchHit]] = {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val q = texts.toDF("query_id", "query_text")
      .select(col("query_id"), embedder.embedCol(col("query_text")).as("q_emb"))
    graft.vector.ServeIndex.searchBatch(spark, dir, kind, q, k, nProbe, refine)
      .map(_.as[GraftApi.BatchSearchHit].collect().toSeq)
  }

  private def serveBatch(dir: String, kind: String, texts: Seq[(Long, String)],
      nProbe: Int, refine: Int, k: Int = 5): Seq[GraftApi.BatchSearchHit] =
    serveBatchOpt(dir, kind, texts, nProbe, refine, k)
      .getOrElse(fail(s"the $kind sidecar must answer a current-anchor batch"))

  test("serve.index=ivf probe-all ≡ flat bitwise; hot-day appends and late deletes honored") {
    import org.apache.spark.sql.functions._
    import graft.functions.VectorFunctions._
    val dir = java.nio.file.Files.createTempDirectory("graft-api-serve").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.ServeIndex.build(spark, dir, "ivf", nCells = 8)
    // appended AFTER the sidecar build, on a newer day: the hot arm must see it
    graft.vector.IndexPipeline.indexRecords(docs.limit(5), "text", "late", dir,
      java.sql.Date.valueOf("2024-03-02"))
    val probe = docs.select("text").head.getString(0)
    val flat = flatBits(dir, probe)
    val served = serve(dir, "ivf", probe, nProbe = 8, refine = 1)
    assert(hitBits(served) == flat,
      "probe-all IVF over sealed days + brute hot day must equal the flat scan bit-for-bit")
    assert(served.exists(_.data_type == "late"),
      "a row appended after the sidecar build must be served from the hot arm")
    // a delete issued AFTER the build hides the vector on both paths
    import spark.implicits._
    val qEmb = embedder.embedText(probe)
    val top = spark.read.parquet(dir)
      .withColumn("d2", l2Sq(col("embedding"), lit(qEmb)))
      .orderBy(col("d2"), col("vec_id")).select("vec_id").head.getLong(0)
    graft.vector.VectorIndex.delete(spark, dir, Seq(top).toDF("vec_id"))
    val flat2 = flatBits(dir, probe)
    assert(hitBits(serve(dir, "ivf", probe, nProbe = 8, refine = 1)) == flat2)
    assert(flat2 != flat, "the deleted top hit must vanish")
    // the batch twin sees the same append and delete
    val texts = docs.limit(3).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(batchBits(serveBatch(dir, "ivf", texts, nProbe = 8, refine = 1)) ==
      flatBatchBits(dir, texts))
  }

  test("search skips an indexed null-text row: flat single, flat batch and the serve hot arm") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-api-null").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.ServeIndex.build(spark, dir, "ivf", nCells = 8)
    // a conversation thread without a MESSAGE-type message indexes a null text
    val query = "alpha beta gamma delta"
    graft.vector.IndexPipeline.indexRecords(
      Seq(("t1", null: String), ("t2", query)).toDF("id", "text"), "text", "thread", dir,
      java.sql.Date.valueOf("2024-03-02"))
    assert(spark.read.parquet(dir).filter(col("embedding").isNull).count() == 1L)
    def check(single: Seq[GraftApi.SearchHit], batch: Seq[GraftApi.BatchSearchHit]): Unit = {
      assert(single.head.data_json.contains("\"id\":\"t2\""), s"top hit ${single.head}")
      assert(!single.exists(_.data_json.contains("\"t1\"")))
      // the batch joins its payload back on vec_id, which appends reuse, so
      // only the rank-1 score is checked here
      assert(batch.find(h => h.query_id == 0L && h.rank == 1L)
        .exists(_.similarity_score == 1.0))
      assert(!batch.exists(_.data_json.contains("\"t1\"")))
    }
    val texts = Seq(0L -> query, 1L -> "x")
    check(GraftApi.searchData(spark, dir, query, 60).results,
      GraftApi.searchDataBatch(spark, dir, texts, 60).results)
    check(serve(dir, "ivf", query, nProbe = 8, refine = 1, k = 60),
      serveBatch(dir, "ivf", texts, nProbe = 8, refine = 1, k = 60))
  }

  test("serve.index=ivfpq probe-all + window-covering refine ≡ flat bitwise") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-pq").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-02"))
    graft.vector.ServeIndex.build(spark, dir, "ivfpq", nCells = 8)
    val probe = docs.select("text").head.getString(0)
    val flat = GraftApi.searchData(spark, dir, probe, 5).results
    // probe all 8 cells, refine budget 5·20 = 100 ≥ the 60-row window:
    // the provably-exact configuration (IvfPqSpec's vec_pq_search pattern)
    assert(hitBits(serve(dir, "ivfpq", probe, nProbe = 8, refine = 20)) == hitBits(flat))
    // the budgeted config (narrow probe, small refine — the production
    // trade whose floors IvfPqSpec pins) still finds the exact-match hit
    val fast = serve(dir, "ivfpq", probe, nProbe = 2, refine = 4)
    assert(fast.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(fast.head.similarity_score > 0.99,
      "the identical-text vector sits in the nearest probed cell — recall@1 holds")
    val flatSet = flat.map(_.data_json).toSet
    assert(fast.count(h => flatSet.contains(h.data_json)) >= 1,
      "budgeted recall floor: the fast config overlaps the exact top-k")
  }

  test("serve.index=sq probe-all + window-covering refine ≡ flat bitwise, single and batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-sq").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "late", dir,
      java.sql.Date.valueOf("2024-03-02"))
    graft.vector.ServeIndex.build(spark, dir, "sq", nCells = 8)
    val probe = docs.select("text").head.getString(0)
    // probe all 8 cells, refine 5·20 = 100 ≥ the 60-row window: the SQ ADC
    // stage only SELECTS candidates, the exact re-rank decides — provably
    // the flat answer (the SqIndex.searchExact rationale)
    assert(hitBits(serve(dir, "sq", probe, nProbe = 8, refine = 20)) == flatBits(dir, probe),
      "probe-all SQ8 over sealed days + brute hot day must equal the flat scan bit-for-bit")
    // the budgeted config still lands the identical-text hit at rank 1
    val fast = serve(dir, "sq", probe, nProbe = 2, refine = 4)
    assert(fast.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(fast.head.similarity_score > 0.99)
    // batch twin: probe-all sq batch ≡ flat batch bitwise
    val texts = docs.limit(3).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(batchBits(serveBatch(dir, "sq", texts, 8, 20)) == flatBatchBits(dir, texts),
      "probe-all + window-covering refine SQ batch must equal the flat batch bitwise")
  }

  test("serve.index=opq rotated-PQ probe-all + window-covering refine ≡ flat bitwise") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-opq").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "late", dir,
      java.sql.Date.valueOf("2024-03-02"))
    graft.vector.ServeIndex.build(spark, dir, "opq", nCells = 8)
    // the rotation sidecar exists and the stored vectors stay ORIGINAL:
    // payload/embedding columns are byte-identical to the flat layout's —
    // only cells and codes live in rotated space
    val sc = graft.vector.ServeIndex.sidecarPath(dir)
    val rot = spark.read.parquet(s"$sc/rotation")
    assert(rot.count() >= 2, "mean row + at least one eigenvector row")
    val cols = spark.read.parquet(s"$sc/vectors").columns.toSet
    assert(!cols.contains("ann_emb") && cols.contains("codes") && cols.contains("embedding"),
      "rotated vectors are never stored — codes carry the rotated-space info")
    val probe = docs.select("text").head.getString(0)
    // probe all 8 cells, refine 5·20 = 100 ≥ the 60-row window: candidacy
    // is total whatever the rotation did, and the exact re-rank runs the
    // SAME raw-space distance expression as the flat scan — bitwise equal
    assert(hitBits(serve(dir, "opq", probe, nProbe = 8, refine = 20)) == flatBits(dir, probe),
      "probe-all rotated-PQ over sealed days + brute hot day must equal the flat scan bit-for-bit")
    // budgeted config: the identical-text vector still lands at rank 1
    val fast = serve(dir, "opq", probe, nProbe = 2, refine = 4)
    assert(fast.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(fast.head.similarity_score > 0.99,
      "the query rotates with the same basis as the corpus — recall@1 holds")
    // batch twin: probe-all opq batch ≡ flat batch bitwise (the in-plan
    // query rotation must agree with the driver-side single-query rotation)
    val texts = docs.limit(3).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(batchBits(serveBatch(dir, "opq", texts, 8, 20)) == flatBatchBits(dir, texts),
      "probe-all + window-covering refine OPQ batch must equal the flat batch bitwise")
  }

  test("serve sidecar sealed scan is partition-pruned to the probed cells on disk") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("graft-api-prune").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(60)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-02"))
    graft.vector.ServeIndex.build(spark, dir, "ivf", nCells = 8)
    val probe = docs.select("text").head.getString(0)
    val qv = new graft.vector.HashingEmbedder().embedText(probe).toSeq
    // budgeted config: nProbe=2 of 8 cells — the sealed arm's scan must
    // read ONLY those two cell directories (the layout nests ingest_date
    // under cell, so probe pruning composes with the date window)
    val served = graft.vector.ServeIndex.search(spark, dir, "ivf", qv, k = 5, nProbe = 2).get
    val plan = served.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"sealed scan must carry cell partition filters:\n${plan.take(2000)}")
    // and the cell filter really prunes: the sidecar scan under the same
    // predicate touches only the probed cells' rows
    val cents = spark.read.parquet(s"${graft.vector.ServeIndex.sidecarPath(dir)}/centroids")
      .collect().map(r => (r.getAs[Long]("cid"), r.getSeq[Float](1)))
    def l2(a: Seq[Float]) = a.zip(qv).map { case (x, y) =>
      (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val probed = cents.map { case (cid, c) => (l2(c), cid) }.sorted.take(2).map(_._2).toSet
    val cellsRead = spark.read.parquet(s"${graft.vector.ServeIndex.sidecarPath(dir)}/vectors")
      .filter(col("cell").isin(probed.toSeq: _*))
      .select(col("cell").cast("long")).distinct().collect().map(_.getLong(0)).toSet
    assert(cellsRead.subsetOf(probed))
  }

  test("serve path falls back to flat: no sidecar, kind mismatch, pre-watermark asOf") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-fb").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(30)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(8), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-02"))
    val probe = docs.select("text").head.getString(0)
    // 1: no sidecar built yet
    assert(serveOpt(dir, "ivf", probe, 8, 1).isEmpty)
    // 2: sidecar is ivf, the caller asks ivfpq
    graft.vector.ServeIndex.build(spark, dir, "ivf", nCells = 4)
    assert(serveOpt(dir, "ivfpq", probe, 8, 20).isEmpty)
    // 3: asOf anchored BEFORE the watermark — time travel the sidecar's
    // window never covered; only the flat layout can answer it
    val past = java.sql.Date.valueOf("2024-03-01")
    assert(serveOpt(dir, "ivf", probe, 8, 1, asOf = past).isEmpty)
    assert(flatBits(dir, probe, asOf = past) != flatBits(dir, probe),
      "the two anchors must actually see different windows for this test to bite")
    // matched kind + current anchor serves through the sidecar and agrees
    assert(hitBits(serve(dir, "ivf", probe, 8, 1)) == flatBits(dir, probe))
  }

  test("batch serve: ivf and ivfpq probe-all ≡ the flat batch scan bitwise; fallback intact") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-bserve").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(50)
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs.limit(10), "text", "late", dir,
      java.sql.Date.valueOf("2024-03-02"))
    val texts = docs.limit(3).select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val flat = flatBatchBits(dir, texts)
    // no sidecar yet: the batch serve cannot answer
    assert(serveBatchOpt(dir, "ivf", texts, 8, 1).isEmpty)
    graft.vector.ServeIndex.build(spark, dir, "ivf", nCells = 8)
    val servedIvf = serveBatch(dir, "ivf", texts, 8, 1)
    assert(batchBits(servedIvf) == flat,
      "probe-all IVF batch (sealed cell-join + brute hot arm) must equal the flat batch " +
        "bitwise — which also proves the post-build hot-day rows entered the candidate set")
    assert(servedIvf.groupBy(_.query_id).values.forall(_.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L)))
    // kind mismatch: the ivf sidecar does not answer an ivfpq batch
    assert(serveBatchOpt(dir, "ivfpq", texts, 8, 20).isEmpty)
    graft.vector.ServeIndex.build(spark, dir, "ivfpq", nCells = 8)
    assert(batchBits(serveBatch(dir, "ivfpq", texts, 8, 20)) == flat,
      "probe-all + window-covering refine IVF-PQ batch must equal the flat batch bitwise")
  }

  test("src/main picks access paths by the call, never by a spark.graft.* conf or env switch") {
    // a session conf or env var that swaps the code path a call runs is
    // reached only by tests that set it; the choice belongs to the caller
    // (searchIndex vs ServeIndex.search, IvfIndex.search vs a full scan)
    val switch = """spark\.graft\.|SPARK_GRAFT_GATE_TIMING""".r
    val files = {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
      try s.iterator().asScala.toList finally s.close()
    }.filter(_.toString.endsWith(".scala"))
    assert(files.size > 50, s"scan found only ${files.size} sources")
    val found = files.flatMap { f =>
      val text = java.nio.file.Files.readString(f)
      switch.findAllMatchIn(text).map { m =>
        s"$f:${text.substring(0, m.start).count(_ == '\n') + 1}: ${m.matched}"
      }
    }
    assert(found.isEmpty, s"a switch that selects a code path:\n${found.mkString("\n")}")
  }

  test("batch search answers every query in one job, matching per-query searchData") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-batch").toString + "/idx"
    graft.vector.IndexPipeline.indexRecords(
      Tables.documents(spark, sf).limit(50), "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    val texts = Tables.documents(spark, sf).limit(3)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val batch = GraftApi.searchDataBatch(spark, dir, texts, 5)
    assert(batch.results.size == texts.size * 5)
    val perQuery = batch.results.groupBy(_.query_id)
    assert(perQuery.keySet == texts.map(_._1).toSet)
    texts.foreach { case (qid, text) =>
      val single = GraftApi.searchData(spark, dir, text, 5).results
      val batched = perQuery(qid).sortBy(_.rank)
      assert(batched.map(_.rank) == Seq(1L, 2L, 3L, 4L, 5L))
      // identical hits and scores as N single calls, in one distributed job
      assert(batched.map(h => (h.similarity_score, h.data_json)) ==
        single.map(h => (h.similarity_score, h.data_json)))
    }
  }

  test("batch search: a vec_id re-ingested on two retained days yields one hit, not two") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-dup").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(30)
    // monotonically_increasing_id over the same 30 rows reproduces the same
    // vec_ids, so both retained days carry every id — the rank join's payload
    // side must dedup or every hit doubles.
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-01"))
    graft.vector.IndexPipeline.indexRecords(docs, "text", "document", dir,
      java.sql.Date.valueOf("2024-03-02"))
    val texts = docs.select("doc_id", "text").limit(2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq
    val batch = GraftApi.searchDataBatch(spark, dir, texts, 5)
    val perQuery = batch.results.groupBy(_.query_id)
    texts.foreach { case (qid, _) =>
      val hits = perQuery(qid)
      assert(hits.size == 5, s"expected 5 hits for query $qid, got ${hits.size}")
      assert(hits.map(_.rank).sorted == Seq(1L, 2L, 3L, 4L, 5L),
        "duplicate (query_id, rank) rows — payload join fanned out")
    }
  }

  test("searchData is partition-pruned to the retention window (faiss_manager.py:91-99)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-api-ret").toString + "/idx"
    val docs = Tables.documents(spark, sf).limit(40)
    // Two ingest days beyond the 7-day window of the newest, one inside.
    graft.vector.IndexPipeline.indexRecords(docs, "text", "old", dir,
      java.sql.Date.valueOf("2024-01-01"))
    graft.vector.IndexPipeline.indexRecords(docs, "text", "recent", dir,
      java.sql.Date.valueOf("2024-03-01"))
    val probe = docs.select("text").head.getString(0)

    // Default asOf = newest ingest day: beyond-retention rows are invisible
    // even for an exact-match query that would otherwise rank them first.
    val hits = GraftApi.searchData(spark, dir, probe, 10)
    assert(hits.results.nonEmpty)
    assert(hits.results.forall(_.data_type == "recent"),
      s"retention must exclude the 2024-01-01 batch: ${hits.results.map(_.data_type).distinct}")

    // The scan path (the search's fallback) prunes PARTITIONS, not rows
    // after the scan.
    val anchor = graft.vector.VectorIndex.maxIngestDate(spark, dir).get
    val plan = graft.vector.VectorIndex.loadRecent(spark, dir, anchor)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("ingest_date"),
      s"expected ingest_date partition filter in:\n$plan")

    // An explicit asOf re-anchors the window onto the old batch.
    val oldHits = GraftApi.searchData(spark, dir, probe, 10,
      asOf = java.sql.Date.valueOf("2024-01-02"))
    assert(oldHits.results.nonEmpty && oldHits.results.forall(_.data_type == "old"))

    // The resident path never opens a file outside the window: garbage in
    // the beyond-retention day's data file changes nothing.
    val oldDay = new java.io.File(s"$dir/ingest_date=2024-01-01")
    val oldFiles = oldDay.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(oldFiles.nonEmpty)
    oldFiles.foreach(f => java.nio.file.Files.write(f.toPath, Array.fill[Byte](64)(7)))
    assert(GraftApi.searchData(spark, dir, probe, 10).results == hits.results)
  }
}
