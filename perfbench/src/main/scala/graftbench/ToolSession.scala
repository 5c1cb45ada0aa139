package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal
import graft.api.GraftApi._
import graft.crm.ThreadCache
import graft.vector.{HashingEmbedder, VectorIndex}

object ToolSession {
  /** A row the index holds: its ingest day, type, identity, embedding key. */
  final case class Indexed(day: Int, dataType: String, identity: String,
      key: Seq[Float], text: String, idField: String)

  /** One round: every tool, paged tools and searches more than once, in a
    * fixed order with seeded arguments (the tables, and which returned
    * records the searches look for). Every round does the same work, so runs
    * with different seeds measure the same thing: a seeded order or refresh
    * share moved the per-call median by 13 % between seeds. Ten single
    * searches give the search median enough samples (with six it spread
    * 11 % across seeds).
    */
  val Round: Seq[String] = Seq("companies", "tickets", "search", "contacts", "emails",
    "search", "conversations", "search", "activity", "tickets", "search", "threads", "search",
    "emails", "search", "search_batch", "conversations", "search", "create_companies",
    "search", "tickets_closed", "search", "create_contacts", "search")
  val SearchTools = Seq("search", "search_batch")
}

/** `tool_session`: one closed-loop client calling every `GraftApi` tool.
  * Every read runs with an `IndexSink`, as the reference stores every read,
  * so reads also append to the vector index; the ingest day advances every
  * [[CallsPerDay]] calls and the 7-day retention prunes. Search queries are
  * texts that earlier calls returned (and indexed). The loop runs whole
  * rounds until the run's time is up. There is no warm-up: the first round
  * pays the first-call costs of each tool, like the first session after a
  * server start; one warm-up round would cost more than the round it
  * measures.
  */
final class ToolSession(ctx: Ctx) extends Workload {
  import ToolSession._
  import ctx.spark
  val CallsPerDay = 2
  val PageSize = 20
  private var crm, index, convIndex, cache = ""
  private var tableRows = Map.empty[String, Long]
  private var endIndexFiles = 0L
  private var endIndexBytes = 0L

  def setup(dir: String): Unit = {
    crm = s"$dir/crm"
    tableRows = Gen.writeCrm(spark, ctx.seed, crm)
    index = s"$dir/index"
    convIndex = s"$dir/index_conversations"
    cache = s"$dir/threads"
  }

  def measure(rec: Rec, seconds: Double): Unit = {
    val r = Gen.rng(ctx.seed, 6000000L)
    val tc = new ThreadCache(spark, cache)
    val indexed = mutable.ArrayBuffer[Indexed]()
    var day = 0
    var calls = 0
    var tickets: Option[(Option[String], Seq[Ticket], Int)] = None
    var emails: Option[(Option[String], Seq[Email], Int)] = None
    def sink = Some(IndexSink(index, Gen.date(day)))
    // Conversation rows go to an index of their own that the timed searches
    // never read: a thread without MESSAGE-type messages has a null first
    // message, its index row a null embedding, and `searchData` over such an
    // index fails (NOT_NULL_ASSERT_VIOLATION on similarity_score), a known
    // program defect that `probeKnownDefects` gates on after the loop. The
    // calls still pay the full read->index write.
    def convSink = Some(IndexSink(convIndex, Gen.date(day)))

    def call[T](tool: String)(body: => T): Option[T] =
      rec.op(tool)(ctx.span("api", tool)(body))
    def stored[T <: Product](dataType: String, idField: String, rows: Seq[T])(
        text: T => String, identity: T => String): Unit = rows.foreach { p =>
      val t = text(p)
      indexed += Indexed(day, dataType, identity(p),
        if (t == null) Nil else HashingEmbedder.embed(t, Gen.Dim).toSeq, t, idField)
      rec.add("payload_bytes", p.productIterator
        .map(v => String.valueOf(v).getBytes("UTF-8").length).sum + 4.0 * Gen.Dim)
      rec.add("rows_indexed", 1)
    }
    def identityOf(dataType: String, json: String): String = {
      val field = indexed.find(_.dataType == dataType).map(_.idField).getOrElse("id")
      ("\"" + field + "\":\"?([^\",}]+)").r.findFirstMatchIn(json).map(_.group(1)).orNull
    }
    // Exact rank-1 check under embedding collisions: the 64-bucket hashing
    // embedder maps distinct short texts to identical vectors, so the top
    // hit must be one of the windowed records sharing the query's embedding.
    def owner(q: Indexed, dataType: String, json: String): Boolean =
      indexed.exists(x => x.day >= day - 7 && x.key == q.key && x.dataType == dataType &&
        x.identity == identityOf(dataType, json))
    def queryPool: Seq[Indexed] =
      indexed.filter(x => x.day >= day - 5 && x.idField == "id" && x.text != null).toSeq
    def pages[T](name: String, rows: Seq[T], sortedPair: (T, T) => Boolean,
        id: T => String): Unit = {
      ctx.checks(s"tool_session.$name.pages_disjoint", rows.map(id).distinct.size == rows.size,
        s"$name cursor pages repeat ids")
      ctx.checks(s"tool_session.$name.pages_in_sort_order",
        rows.zip(rows.drop(1)).forall { case (a, b) => sortedPair(a, b) },
        s"$name cursor pages leave the tool's sort order")
    }

    def run(tool: String): Unit = tool match {
      case "companies" => call(tool)(getActiveCompanies(spark, crm, sink = sink)).foreach(p =>
        stored("company", "id", p.results)(_.name, _.id))
      case "contacts" => call(tool)(getActiveContacts(spark, crm, sink = sink)).foreach(p =>
        stored("contact", "id", p.results)(_.email, _.id))
      case "tickets" =>
        val (after, sofar, n) = tickets.getOrElse((None, Nil, 0))
        call(tool)(getTickets(spark, crm, "default", PageSize, after, sink)).foreach { p =>
          stored("ticket", "id", p.results)(_.subject, _.id)
          val all = sofar ++ p.results
          pages[Ticket]("tickets", all, (a, b) => a.hs_lastmodifieddate > b.hs_lastmodifieddate ||
            (a.hs_lastmodifieddate == b.hs_lastmodifieddate && a.id.toLong < b.id.toLong), _.id)
          tickets = if (p.after.isEmpty || n >= 3) None else Some((p.after, all, n + 1))
        }
      case "tickets_closed" =>
        call(tool)(getTickets(spark, crm, "closed", PageSize, None, sink)).foreach(p =>
          stored("ticket", "id", p.results)(_.subject, _.id))
      case "emails" =>
        val (after, sofar, n) = emails.getOrElse((None, Nil, 0))
        call(tool)(getRecentEmails(spark, crm, PageSize, after, sink)).foreach { p =>
          stored("email", "id", p.results)(_.body, _.id)
          val all = sofar ++ p.results
          pages[Email]("emails", all, (a, b) => a.created_at > b.created_at ||
            (a.created_at == b.created_at && a.id < b.id), _.id)
          emails = if (p.after.isEmpty || n >= 3) None else Some((p.after, all, n + 1))
        }
      case "conversations" =>
        // every other call refreshes the snapshot, the others are served from it
        val refresh = rec.count("conversation_calls") % 2 == 0
        val hit = !refresh && tc.snapshotExists
        call(tool)(getRecentConversations(spark, crm, refreshCache = refresh,
            cache = Some(tc), sink = convSink)).foreach { p =>
          rec.add("conversation_calls", 1)
          if (hit) rec.add("thread_cache_hits", 1)
          stored("conversation", "thread_id", p.results)(
            _.first_msg_truncated, _.thread_id.toString)
        }
      case "activity" =>
        call(tool)(getCompanyActivity(spark, crm, fanoutCap = 5, sink = sink)).foreach(p =>
          stored("company_activity", "engagement_id", p.results)(
            _.content, _.engagement_id.toString))
      case "threads" =>
        call(tool)(getTicketThreads(spark, crm, nTickets = 5, sink = sink)).foreach(p =>
          stored("ticket_thread", "message_id", p.results)(_.text, _.message_id.toString))
      case "create_companies" => call(tool)(createCompanies(spark, crm))
      case "create_contacts" => call(tool)(createContacts(spark, crm))
      case "search" =>
        val pool = queryPool
        val q = pool(r.nextInt(pool.size))
        call(tool)(searchData(spark, index, q.text)).foreach { p =>
          rec.add("search_hits", p.results.size)
          val top = p.results.headOption
          ctx.checks("tool_session.search_returns_record_at_rank_1",
            top.exists(h => owner(q, h.data_type, h.data_json)),
            s"query '${q.text}' (${q.dataType} ${q.identity}, day ${q.day} of $day) top hit $top")
        }
      case "search_batch" =>
        val pool = queryPool
        val qs = Seq.fill(4)(pool(r.nextInt(pool.size))).zipWithIndex
          .map { case (q, j) => (j.toLong, q) }
        call(tool)(searchDataBatch(spark, index, qs.map { case (j, q) => j -> q.text }))
          .foreach { p =>
            rec.add("search_hits", p.results.size)
            qs.foreach { case (j, q) =>
              val top = p.results.find(h => h.query_id == j && h.rank == 1)
              // a record with the query's exact embedding ranks first; its
              // payload is checked by `probeKnownDefects` after the loop
              ctx.checks("tool_session.search_batch_rank_1_is_exact_match",
                top.exists(_.similarity_score == 1.0), s"query '${q.text}' top hit $top")
            }
          }
    }

    val b0 = FsStats.bytesWritten
    loop(rec, seconds) { _ =>
      Round.foreach { tool =>
        run(tool)
        calls += 1
        if (calls % CallsPerDay == 0) {
          day += 1
          rec.op("retain")(ctx.span("vector", "retain")(
            VectorIndex.retain(spark, index, Gen.date(day))))
        }
      }
    }
    rec.add("bytes_written", (FsStats.bytesWritten - b0).toDouble)
    val files = listFiles(new java.io.File(index))
    endIndexFiles = files.count(_.getName.endsWith(".parquet")).toLong
    endIndexBytes = files.map(_.length).sum
    ctx.span("trace", "check")(probeKnownDefects(rec, indexed.toSeq, queryPool, r, owner))
  }

  /** Untimed probes of two known program defects (perfbench/README.md,
    * "Program defects found"). Each accepts the correct result or the
    * defect's exact signature and fails the run on anything else, so a fix
    * passes and shows as a zero count, and a new fault does not pass.
    */
  private def probeKnownDefects(rec: Rec, indexed: Seq[Indexed], pool: Seq[Indexed],
      r: scala.util.Random, owner: (Indexed, String, String) => Boolean): Unit = {
    // 1. `searchData` over an index holding a null-embedding row throws
    //    NOT_NULL_ASSERT_VIOLATION. The conversation index can hold such rows.
    val convs = indexed.filter(_.dataType == "conversation")
    val newest = convs.filter(c => c.text != null && c.day == convs.map(_.day).max)
    newest.headOption.foreach { q =>
      def known(e: Throwable) = convs.exists(_.text == null) &&
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(x => String.valueOf(x.getMessage).contains("NOT_NULL_ASSERT_VIOLATION"))
      try {
        val top = searchData(spark, convIndex, q.text).results.headOption
        ctx.checks("tool_session.conversation_search_returns_record_at_rank_1",
          top.exists(h => owner(q, h.data_type, h.data_json)), s"query '${q.text}' top hit $top")
      } catch {
        case NonFatal(e) if known(e) => rec.add("null_embedding_search_failures", 1)
        case NonFatal(e) => ctx.checks("tool_session.conversation_search_returns_record_at_rank_1",
          ok = false, s"unexpected failure: $e")
      }
    }
    // 2. `indexRecords` numbers rows with monotonically_increasing_id, which
    //    restarts on every append, and `searchIndexBatch` joins the payload
    //    back on vec_id, so a hit can carry the payload of another windowed
    //    row that shares the vec_id of the right one.
    val qs = (0L until 8L).map(j => j -> pool(r.nextInt(pool.size)))
    val hits = searchDataBatch(spark, index, qs.map { case (j, q) => j -> q.text }).results
    val window = VectorIndex.maxIngestDate(spark, index).toSeq.flatMap(d =>
      VectorIndex.loadRecent(spark, index, d).select("vec_id", "embedding", "data_json")
        .collect().toSeq.map(w => (w.getLong(0), Option(w.getSeq[Float](1)).map(_.toSeq),
          w.getString(2))))
    qs.foreach { case (j, q) =>
      val exact = window.filter(_._2.contains(HashingEmbedder.embed(q.text, Gen.Dim).toSeq))
      val top = hits.find(h => h.query_id == j && h.rank == 1)
      val right = top.exists(h => exact.exists(_._3 == h.data_json))
      val sharesVecId = top.exists(h =>
        window.exists(w => w._3 == h.data_json && exact.exists(_._1 == w._1)))
      ctx.checks("tool_session.search_batch_payload_is_record_or_known_defect",
        right || sharesVecId, s"query '${q.text}' top hit $top")
      if (!right) rec.add("search_batch_payload_mismatches", 1)
      rec.add("search_batch_hits_checked", 1)
    }
  }

  private def listFiles(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(listFiles) else Seq(f)

  private val Tools = Round.distinct

  def endToEnd(rec: Rec): Map[String, Double] = {
    val calls = rec.ms(Tools: _*)
    Map(
      // every call counts: the session's timed wall (retention included)
      // over its completed calls
      "op_mean_ms" -> rec.wallMs / calls.size,
      "lookup_p50_ms" -> Stats.median(rec.ms(SearchTools: _*)),
      "write_amp" -> rec.count("bytes_written") / rec.count("payload_bytes"),
      "tool_p50_ms" -> Stats.median(calls),
      "tool_p90_ms" -> Stats.quantile(calls, 0.9),
      "search_p50_ms" -> Stats.median(rec.ms(SearchTools: _*)),
      "tool_calls_per_s" -> calls.size / (rec.wallMs / 1000),
      "tool_calls" -> calls.size.toDouble,
      "calls_beyond_p90" -> calls.count(_ > Stats.quantile(calls, 0.9)).toDouble,
      "rows_indexed" -> rec.count("rows_indexed"),
      "index_files_end" -> endIndexFiles.toDouble,
      "index_mb_end" -> endIndexBytes / 1e6,
      "known_defect.search_batch_payload_mismatches" ->
        rec.count("search_batch_payload_mismatches"),
      "known_defect.null_embedding_search_failures" ->
        rec.count("null_embedding_search_failures"),
      "search_batch_hits_checked" -> rec.count("search_batch_hits_checked")) ++
      Tools.map(t => s"tool_p50_ms.$t" -> Stats.median(rec.ms(t)))
  }

  def layers(a: Attribution, rec: Rec): Map[String, Double] = {
    val calls = a.spans.filter(s => s.layer == "api")
    val crmCalls = calls.filterNot(s => SearchTools.contains(s.name))
    val reads = crmCalls.filterNot(_.name.startsWith("create_"))
    val searches = calls.filter(s => SearchTools.contains(s.name))
    def leg(s: Span) = a.jobsOf(s).filter(j => Layers.indexLeg(j.site))
    Map(
      "crm.jobs_per_call" -> Stats.mean(crmCalls.map(a.jobsOf(_).size.toDouble)),
      "crm.plan_ms_per_call" -> Stats.mean(crmCalls.map(a.planMs)),
      "crm.driver_only_ms_per_call" -> Stats.mean(crmCalls.map(a.driverOnlyMs)),
      "crm.input_mb_per_call" -> Stats.mean(crmCalls.map(s =>
        a.jobsOf(s).map(_.inputBytes).sum / 1e6)),
      "crm.thread_cache_hit_ratio" ->
        rec.count("thread_cache_hits") / math.max(1.0, rec.count("conversation_calls")),
      "vector.index_leg_jobs_per_call" -> Stats.mean(reads.map(leg(_).size.toDouble)),
      "vector.index_leg_ms_per_call" -> Stats.mean(reads.map(s =>
        a.unionMs(leg(s), s.startMs, s.endMs))),
      "vector.search_jobs_per_call" -> Stats.mean(searches.map(a.jobsOf(_).size.toDouble)),
      "vector.search_driver_only_ms_per_call" -> Stats.mean(searches.map(a.driverOnlyMs)),
      "vector.search_rows_examined_per_hit" -> searches.flatMap(a.jobsOf)
        .map(_.inputRecords).sum / math.max(1.0, rec.count("search_hits")),
      "vector.index_files" -> endIndexFiles.toDouble)
  }

  def sizes: Map[String, Any] = Map(
    "crm_table_rows" -> tableRows,
    "calls_per_ingest_day" -> CallsPerDay,
    "page_size" -> PageSize,
    "retention_days" -> VectorIndex.RetentionDays,
    "round" -> Round)
}
