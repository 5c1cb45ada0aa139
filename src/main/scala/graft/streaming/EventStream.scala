package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp
import graft.sources.Parquet

/** Structured Streaming generalization of the reference's incremental
  * surfaces (SURVEY.md §2.10): pagination-token resume becomes source
  * offsets, the daily rolling index becomes a watermarked tumbling window,
  * and the snapshot cache becomes foreachBatch refresh.
  *
  * These transforms take any streaming DataFrame with the `events` schema
  * (`event_id long, ts timestamp, user_id long, event_type string,
  * value double, props string`) — file source, Kafka, or MemoryStream in
  * tests. The batch twins live in graft.ops.Events; keeping the transform
  * bodies identical is what makes the engine's batch/streaming semantics
  * line up.
  */
object EventStream {

  /** Tumbling 1-hour aggregate with a 2-hour watermark — the streaming twin
    * of Events.tumblingHourly and the direct analog of the reference's
    * daily index partitions (`faiss_manager.py:63-104`): closed windows are
    * final, late data beyond the watermark is dropped rather than
    * rewriting history.
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Sliding 1-hour / 15-minute aggregate — the streaming twin of
    * Events.slidingQuarterHourly: the window generator fans each event
    * into its 4 overlapping windows, the watermark closes each window 2
    * hours after its end, and state is bounded at (open windows ×
    * event_type) like the tumbling form.
    */
  def slidingQuarterHourly(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)
  case class SessionState(start: Long, lastTs: Long, nEvents: Long, sumValue: Double)
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, sum_value: Double)

  /** Stateful sessionization (30-min inactivity gap) via
    * flatMapGroupsWithState — the custom-state operator the batch
    * gaps-and-islands version (Events.sessionize) cannot express
    * incrementally. Emits a session when the gap closes it; event-time
    * timeout flushes the last open session per user.
    */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L

    def flush(userId: Long, st: SessionState): Session =
      Session(userId, new Timestamp(st.start), new Timestamp(st.lastTs), st.nEvents, st.sumValue)

    events
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val out = state.getOption.map(flush(userId, _)).toSeq
            state.remove()
            out.iterator
          } else {
            val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[Session]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                case Some(st) if t - st.lastTs <= gapMs =>
                  cur = Some(st.copy(lastTs = t, nEvents = st.nEvents + 1,
                    sumValue = st.sumValue + e.value))
                case Some(st) =>
                  closed ::= flush(userId, st)
                  cur = Some(SessionState(t, t, 1L, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1L, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.lastTs + gapMs)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming exact dedup: drop re-deliveries of the same event id within
    * the watermark horizon — the streaming arm of the dedup family
    * (ops.Dedup covers the batch corpus side). State is bounded by the
    * watermark: ids older than the horizon are evicted, so this runs
    * forever on an unbounded stream.
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Watermarked stream-stream interval join (click→purchase attribution):
    * each purchase matches the same user's clicks in the preceding
    * `windowMinutes`. Both sides are watermarked and the join condition
    * carries the event-time interval, so Spark bounds BOTH state stores —
    * clicks older than the window + watermark are evicted, which is what
    * lets this run forever on unbounded streams (the unbounded form would
    * accumulate every click seen). This is the streaming twin of the batch
    * as-of/range joins (ops.AsOfJoin / ops.RangeJoin).
    */
  /** `joinType = "left_outer"` additionally emits unmatched purchases
    * (null click columns) once the watermark passes their join window —
    * the state store evicts the purchase and certifies no click can still
    * arrive, so the "purchase with no preceding click" signal is itself
    * produced incrementally.
    */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
      windowMinutes: Int = 60, joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("event_id").as("click_id"), col("user_id").as("click_user"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "2 hours")
    val p = purchases
      .select(col("event_id").as("purchase_id"), col("user_id").as("purchase_user"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "2 hours")
    p.join(c,
      col("click_user") === col("purchase_user") &&
        col("click_ts") >= col("purchase_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
        col("click_ts") <= col("purchase_ts"),
      joinType)
      .select(col("purchase_id"), col("purchase_user").as("user_id"), col("purchase_ts"),
        col("value"), col("click_id"), col("click_ts"))
  }

  /** Streaming curation: PII redaction is a stateless projection, so the
    * batch operator applies to a document stream UNCHANGED — same codegen
    * regexes, no state, no watermark needed. Included as the explicit
    * streaming twin so the facade mirrors the batch tier one-for-one.
    */
  def redactPiiStream(docs: DataFrame): DataFrame =
    graft.ops.Curation.redactPii(docs)

  /** Streaming decontamination: a document stream filtered against a
    * STATIC benchmark n-gram set. The batch form anti-joins (scales to an
    * unbounded benchmark); on a stream the check becomes ROW-LOCAL — the
    * benchmark n-grams are a bounded artifact (eval suites are thousands
    * of docs, like the centroid sidecars), so they collect once and the
    * filter is one codegen'd `arrays_overlap` against a literal. Zero
    * streaming state, no watermark: a contaminated doc is dropped inside
    * its own micro-batch, forever, at constant memory.
    */
  def decontaminateStream(docs: DataFrame, benchmark: DataFrame, n: Int = 4): DataFrame = {
    val benchNgrams: Seq[String] = benchmark
      .select(explode(graft.ops.Curation.ngrams(col("text"), n)).as("ng"))
      .distinct().collect().map(_.getString(0)).toSeq
    docs.filter(!arrays_overlap(
      graft.ops.Curation.ngrams(col("text"), n), typedLit(benchNgrams)))
  }

  /** Streaming Gopher gate: the hand-rule quality bundle is a stateless
    * integer projection, so the batch operator's unsorted form runs on a
    * document stream verbatim — an ingest pipeline can drop
    * failing-quality docs inside their own micro-batch, zero state, no
    * watermark. Identical expression trees to `gopherGate`, so stream
    * verdicts equal batch verdicts bit-for-bit (`StreamingSpec`).
    */
  def gopherGateStream(docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame =
    graft.ops.TextAnalysis.gopherSignals(docs, stopwords, minWords, maxWords)

  /** Streaming domain routing: score a doc stream against an
    * OFFLINE-trained multi-class domain model
    * ([[graft.ops.TextAnalysis.trainDomainClassifier]]) — the model is a
    * driver artifact, the scoring one map-only argmax projection
    * (the lmScoreStream shape), stateless, no watermark; stream routes
    * equal the batch classifier bit-for-bit (`StreamingSpec`).
    */
  def domainRouteStream(docs: DataFrame,
      model: (Seq[String], Array[(String, Array[Long])])): DataFrame =
    graft.ops.TextAnalysis.domainSignals(docs, model)

  /** Streaming C4 line-level cleaning: the surgery tier mid-stream — every
    * rule is a row-local string/array projection (the gopherGateStream
    * shape), stateless, no watermark; stream verdicts and re-assembled
    * clean text equal the batch operator bit-for-bit (`StreamingSpec`).
    */
  def c4CleanStream(docs: DataFrame, minWordsPerLine: Int = 3,
      minLines: Int = 5): DataFrame =
    graft.ops.Curation.c4LineSignals(docs, minWordsPerLine, minLines)

  /** Streaming semantic decontamination: gate a vector stream against a
    * STATIC benchmark (the eval suite is a driver artifact — it never
    * grows with the stream), flagging anything within cosine `threshold`
    * of any benchmark vector. Row-local codegen'd dot folds (the
    * domainRouteStream shape), stateless, no watermark; flags, evidence
    * and cosines equal the batch [[graft.ops.Similarity.semanticDecontam]]
    * bit-for-bit (`StreamingSpec`).
    */
  def semanticDecontamStream(vecs: DataFrame, bench: Seq[(Long, Array[Float])],
      threshold: Double = 0.35): DataFrame =
    graft.ops.Similarity.decontamSignals(vecs, bench, threshold)

  /** [[semanticDecontamStream]]'s BROADCAST-operator twin for benchmarks
    * past the literal-fold regime: each micro-batch runs the batch operator
    * [[graft.ops.Similarity.semanticDecontam]] — the benchmark broadcasts,
    * the micro-batch scans map-locally — and appends the flagged rows
    * (vec_id, bench_id, cos_sim) to `outPath`. Regime boundary, MEASURED
    * (r12 StreamBench, same 128-vector fixture for both forms): this form
    * sustained ~98k rows/s against the literal fold's ~6k — a 128-entry
    * generated projection already exceeds JIT-friendly method size, so
    * the literal fold's honest home regime is ~10¹ entries. Prefer THIS
    * form whenever a micro-batch boundary is available (it also lets the
    * benchmark change without a query restart — re-read per batch via the
    * DataFrame the caller passed); the literal fold's remaining advantage
    * is structural — row-local mid-stream legality with no sink required.
    */
  def semanticDecontamIngest(vecs: DataFrame, benchmark: DataFrame,
      outPath: String, checkpoint: String,
      threshold: Double = 0.35): org.apache.spark.sql.streaming.StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.ops.Similarity.semanticDecontam(batch, benchmark, threshold)
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outPath)
        ()
      }
      .start()

  /** Streaming CCNet LM scoring: score a document stream against a model
    * persisted by `NgramLm.buildAt` (trained OFFLINE on the static
    * reference slice — the CCNet posture). The model attaches as literal
    * maps (toy size) or a static one-row broadcast (production size);
    * either way the scoring fold is row-local — stateless, no watermark,
    * and stream scores equal batch scores bit-for-bit (`StreamingSpec`).
    */
  def lmScoreStream(spark: org.apache.spark.sql.SparkSession, docs: DataFrame,
      modelPath: String): DataFrame =
    graft.text.NgramLm.scoreDocsStreamFrom(spark, docs, modelPath)

  /** Streaming ANN ingest: micro-batches are cell-assigned against the
    * index's centroid sidecar and appended into the `partitionBy(cell)`
    * layout (`IvfIndex.appendBatch`) — a streamed corpus lands directly in
    * probe-searchable form, the write-time-bucketing analog of the
    * reference's "today's partition is the append target".
    */
  def ivfIngest(batches: DataFrame, indexPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.vector.IvfIndex.appendBatch(batch.sparkSession, batch, indexPath)
      }
      .start()

  /** Streaming ingest into the COMPOSED IVF-PQ layout: each micro-batch is
    * centroid-assigned, residual-encoded against the existing codebook
    * sidecars (all map-only — `IvfPqIndex.appendBatch`), and appended into
    * the cell partitions, so streamed vectors land already quantized and
    * ADC-searchable. Codebooks never retrain per batch (the standard
    * IVF-PQ ingest contract).
    */
  def ivfPqIngest(batches: DataFrame, indexPath: String,
      checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty)
          graft.vector.IvfPqIndex.appendBatch(batch.sparkSession, batch, indexPath)
      }
      .start()

  /** Streaming index ingestion: micro-batches append to the date-partitioned
    * vector index via foreachBatch, then retention prunes old partitions —
    * the streaming form of the reference's add_data + _remove_old_indexes
    * cycle (`faiss_manager.py:151-252`).
    */
  def indexIngest(batches: DataFrame, indexPath: String, checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    batches.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          graft.vector.VectorIndex.append(batch, indexPath)
          // Retention cutoff comes from the BATCH's own max ingest date —
          // never from re-reading the whole index, which would be a
          // per-micro-batch full scan of an ever-growing table. The batch is
          // already materialized for the append; this agg is over it alone.
          val today = batch.agg(max(col("ingest_date"))).head.getDate(0)
          graft.vector.VectorIndex.retain(batch.sparkSession, indexPath, today)
          ()
        }
      }
      .start()

  /** Streaming corpus ingestion through the persisted LSH dedup gate: each
    * micro-batch of (doc_id, text) runs the full three-tier ingest gate
    * (`text.LshIndex.ingestBatch`: within-batch exact → resident exact →
    * LSH near-dup against the resident index), survivors append to the
    * index, and every doc's verdict lands in an append-only verdict log —
    * the streaming form of the daily crawl-ingest loop, with the index
    * growing mid-stream so later micro-batches dedup against earlier ones.
    *
    * Delivery contract: foreachBatch is at-least-once; on a replayed
    * micro-batch the index's id-disjointness gate fails LOUD (the query
    * errors) instead of silently double-appending resident rows — next to
    * a corrupted dedup index, stopping is the cheap failure. The verdict
    * log carries `batch_id` so a replayed batch's duplicate verdicts are
    * identifiable and droppable downstream.
    *
    * `skipReplayed = true` upgrades that to IDEMPOTENT replay: the verdict
    * log's max batch_id is the high-water mark — a batch AT the mark
    * already completed its ingest+verdict write, so the replay is a no-op
    * instead of an exception (restart-friendly at-least-once); a batch
    * BELOW the mark fails loud — legitimate redelivery can only replay the
    * latest batch, so below-mark means a reset checkpoint against a
    * retained log (or a shared log), where skipping would silently drop
    * NEW data arriving under recycled ids. The ordering that makes the
    * skip sound: `ingestBatch` appends the index BEFORE the verdict
    * write, so verdicts-present ⇒ ingest completed. A crash BETWEEN index
    * append and verdict write still fails loud on the id gate at replay —
    * that state is genuinely ambiguous and stopping remains the cheap
    * failure. Cost: one footer-stats read of the verdict log's batch_id
    * column per micro-batch. The same option (same contract, same gate)
    * exists on every ingest twin below.
    */
  def corpusIngest(docs: DataFrame, indexPath: String, verdictPath: String,
      checkpoint: String, jaccardThreshold: Double = 0.3,
      skipReplayed: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty && !(skipReplayed &&
            replayedAlready(batch.sparkSession, verdictPath, batchId))) {
          graft.text.LshIndex.ingestBatch(batch.sparkSession, indexPath, batch, jaccardThreshold)
            .withColumn("batch_id", lit(batchId))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(verdictPath)
          ()
        }
      }
      .start()

  /** True when the log already carries EXACTLY this batch id as its
    * high-water mark — the skip-replayed-batch test shared by every gate's
    * `skipReplayed` option. Legitimate foreachBatch redelivery can only
    * replay the LATEST batch (batches commit serially, and a batch's log
    * write is the last step of its ingest), so the only sound skip is
    * batchId == max(batch_id). A batch id BELOW the mark means the stream
    * checkpoint was reset (ids restarted) against a retained log, or two
    * streams share one log — silently skipping there is data loss under a
    * flag documented as at-least-once, so it fails LOUD instead (the
    * ADVICE r9 generation-mismatch finding). Driver-side metadata IO:
    * both the existence probe and the footer-stats read ride the
    * transient-retry policy (one storage throttle must not kill the
    * micro-batch).
    */
  private def replayedAlready(spark: org.apache.spark.sql.SparkSession,
      verdictPath: String, batchId: Long): Boolean = {
    val p = new org.apache.hadoop.fs.Path(verdictPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    graft.sources.RetryingIO.withRetry(s"replayedAlready($verdictPath)") {
      fs.exists(p)
    } && {
      val mx = graft.sources.RetryingIO.withRetry(s"replayedAlready($verdictPath) read") {
        Parquet.read(spark, verdictPath)
          .agg(org.apache.spark.sql.functions.max(col("batch_id"))).head
      }
      !mx.isNullAt(0) && {
        val m = mx.getLong(0)
        require(batchId >= m,
          s"replayedAlready($verdictPath): micro-batch id $batchId is behind the " +
            s"log's high-water mark $m — the stream checkpoint was reset against a " +
            "retained log (or two streams share it); skipping would silently drop " +
            "data. Align or clear the log before restarting.")
        m == batchId
      }
    }
  }

  /** The WHOLE text-curation path as one streaming ingest — C4 line
    * surgery → Gopher hand-rule gate → CCNet LM quality gate → LSH
    * dedup-ingest, per micro-batch: the pipeline a crawl feed actually
    * runs, composed from the individually oracle-bound stages
    * (`doc_c4_lines`, `doc_gopher_gate`, `doc_lm_score`,
    * `doc_incr_dedup_ingest`).
    *
    * Stage semantics: C4 runs first and the SURVIVING text is the cleaned
    * re-assembly (downstream stages see the surgery's output, not the raw
    * page); the LM gate applies a FIXED fit-ppm FLOOR (fit_ppm is
    * higher-is-better — the head bucket is the highest fit) against the
    * offline-trained persisted model (the CCNet production posture —
    * corpus-relative percentile cuts are an offline calibration, a stream
    * applies the precomputed threshold); survivors of all three gates run
    * the resident LSH dedup gate and append. The verdict log carries one
    * row per offered doc: (doc_id, stage, verdict, batch_id) — the first
    * stage that dropped it, or the dedup gate's verdict (`ingested` /
    * `batch_dup` / `exact_dup` / `near_dup` / `overlap_dup`).
    *
    * Delivery contract: `corpusIngest`'s — at-least-once, replay fails
    * loud on the id gate; `skipReplayed = true` upgrades to idempotent
    * replay under the same high-water contract (the dedup-ingest append
    * happens before the verdict write).
    */
  def curatedCorpusIngest(docs: DataFrame, lmModelPath: String,
      indexPath: String, verdictPath: String, checkpoint: String,
      minFitPpm: Long,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minWords: Long = 50L, maxWords: Long = 100000L,
      jaccardThreshold: Double = 0.3,
      skipReplayed: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty && !(skipReplayed &&
            replayedAlready(batch.sparkSession, verdictPath, batchId))) {
          val s = batch.sparkSession
          val c4 = graft.ops.Curation.c4LineSignals(batch).localCheckpoint(true)
          val cleaned = c4.filter(col("verdict") === "kept")
            .select(col("doc_id"), col("clean_text").as("text"),
              col("lang"), col("source"))
            .localCheckpoint(true) // three consumers: gopher, lm, ingest
          val gopherFail = graft.ops.TextAnalysis
            .gopherSignals(cleaned, stopwords, minWords, maxWords)
            .filter(!col("pass")).select(col("doc_id"))
            .localCheckpoint(true)
          val afterGopher = cleaned.join(gopherFail, Seq("doc_id"), "left_anti")
          val lmFail = graft.text.NgramLm
            .scoreDocsStreamFrom(s, afterGopher, lmModelPath)
            .filter(col("fit_ppm") < minFitPpm).select(col("doc_id"))
            .localCheckpoint(true)
          val survivors = afterGopher.join(lmFail, Seq("doc_id"), "left_anti")
          val dedupVerdicts = graft.text.LshIndex
            .ingestBatch(s, indexPath, survivors.select(col("doc_id"), col("text")),
              jaccardThreshold)
            .withColumnRenamed("verdict", "dedup_verdict")
          batch.select(col("doc_id"))
            .join(c4.select(col("doc_id"), col("verdict").as("c4_verdict")),
              Seq("doc_id"), "left")
            .join(gopherFail.withColumn("g_fail", lit(true)), Seq("doc_id"), "left")
            .join(lmFail.withColumn("lm_fail", lit(true)), Seq("doc_id"), "left")
            .join(dedupVerdicts, Seq("doc_id"), "left")
            .select(col("doc_id"),
              when(col("c4_verdict") =!= "kept", lit("c4"))
                .when(col("g_fail"), lit("gopher"))
                .when(col("lm_fail"), lit("lm"))
                .otherwise(lit("dedup")).as("stage"),
              when(col("c4_verdict") =!= "kept", col("c4_verdict"))
                .when(col("g_fail"), lit("gopher_fail"))
                .when(col("lm_fail"), lit("lm_tail"))
                .otherwise(col("dedup_verdict")).as("verdict"),
              lit(batchId).as("batch_id"))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(verdictPath)
          ()
        }
      }
      .start()

  /** The vector twin of `corpusIngest`: each micro-batch of
    * (vec_id, label, embedding) runs the cosine near-duplicate gate
    * against the resident IVF layout (`IvfIndex.dedupIngest` — within-batch
    * exact tier, probed-cell resident tier), survivors land in their cell
    * partitions, verdicts in the append-only log. Same delivery contract:
    * at-least-once, replay fails loud on the id-disjointness gate;
    * `skipReplayed = true` upgrades to idempotent replay under the
    * [[corpusIngest]] high-water contract (sound because `dedupIngest`
    * appends the index before the verdict write).
    */
  def vectorCorpusIngest(vectors: DataFrame, indexPath: String, verdictPath: String,
      checkpoint: String,
      threshold: Double = 0.95,
      skipReplayed: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty && !(skipReplayed &&
            replayedAlready(batch.sparkSession, verdictPath, batchId))) {
          graft.vector.IvfIndex.dedupIngest(batch.sparkSession, indexPath, batch, threshold)
            .withColumn("batch_id", lit(batchId))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(verdictPath)
          ()
        }
      }
      .start()

  /** The PARAGRAPH-surgery twin of `corpusIngest` — the incremental CCNet
    * shard posture mid-stream: each micro-batch of (doc_id, text) cuts
    * its resident-duplicate paragraphs against the persisted
    * `ParagraphIndex` (and its own within-batch later occurrences), the
    * rebuilt docs land in the output path with batch attribution, and the
    * batch's newly-won paragraph hashes append to the index — so a
    * paragraph first seen in batch 1 suppresses its re-occurrence in
    * batch 7. Unlike the verdict gates this twin performs SURGERY: docs
    * survive with duplicated paragraphs removed (dedup_text NULL when
    * nothing survived). Delivery: at-least-once; a replayed batch is
    * idempotent by the index's self-match rule (re-offers keep their own
    * first occurrences), so reprocessing reproduces the same output ROWS —
    * but appends them AGAIN into the output path. `skipReplayed = true`
    * suppresses that duplicate append under the [[corpusIngest]]
    * high-water contract, with the OUTPUT path as the batch log (its rows
    * carry batch_id; output-present ⇒ index appended, the required
    * ordering, because `ingestBatch` appends the index before returning).
    */
  def paragraphIngest(docs: DataFrame, indexPath: String, outPath: String,
      checkpoint: String,
      skipReplayed: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty && !(skipReplayed &&
            replayedAlready(batch.sparkSession, outPath, batchId))) {
          graft.text.ParagraphIndex.ingestBatch(batch.sparkSession, indexPath, batch)
            .withColumn("batch_id", lit(batchId))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(outPath)
          ()
        }
      }
      .start()

  /** The IMAGE twin of `corpusIngest`/`vectorCorpusIngest` — the third
    * modality's ingest gate: each micro-batch of (doc_id, media_type,
    * data) rows runs the perceptual-hash dedup gate against the resident
    * `PhashIndex` (within-batch aHash tier, probe-joined resident
    * Hamming-radius tier), survivors append their hash + probe rows, and
    * verdicts land in the append-only log with batch attribution. Same
    * delivery contract: at-least-once, replay fails loud on the id gate.
    */
  def mediaIngest(media: DataFrame, indexPath: String, verdictPath: String,
      checkpoint: String,
      maxHamming: Int = 2,
      skipReplayed: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty && !(skipReplayed &&
            replayedAlready(batch.sparkSession, verdictPath, batchId))) {
          val typed = batch.as[graft.multimodal.Multimodal.MediaRow](
            org.apache.spark.sql.Encoders.product[graft.multimodal.Multimodal.MediaRow])
          graft.multimodal.PhashIndex.dedupIngest(batch.sparkSession, indexPath,
              typed, maxHamming)
            .withColumn("batch_id", lit(batchId))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(verdictPath)
          ()
        }
      }
      .start()

  /** The AUDIO twin of [[mediaIngest]] — fourth modality through the same
    * gate engine: micro-batches of WAV payloads run the Haitsma–Kalker
    * fingerprint dedup against the resident `AudioHashIndex` (re-mastered
    * containers collide at Hamming 0, light perturbations within radius),
    * verdicts land in the append-only log with batch attribution.
    */
  def audioIngest(media: DataFrame, indexPath: String, verdictPath: String,
      checkpoint: String,
      maxHamming: Int = 2,
      skipReplayed: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty && !(skipReplayed &&
            replayedAlready(batch.sparkSession, verdictPath, batchId))) {
          val typed = batch.as[graft.multimodal.Multimodal.MediaRow](
            org.apache.spark.sql.Encoders.product[graft.multimodal.Multimodal.MediaRow])
          graft.multimodal.AudioHashIndex.dedupIngest(batch.sparkSession, indexPath,
              typed, maxHamming)
            .withColumn("batch_id", lit(batchId))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(verdictPath)
          ()
        }
      }
      .start()

  /** The VIDEO twin of [[mediaIngest]]/[[audioIngest]] — fifth modality
    * through the same gate engine: micro-batches of AVI payloads run the
    * spatio-temporal block-luminance fingerprint dedup against the
    * resident `VideoHashIndex` (re-containered clips collide at Hamming 0,
    * light perturbations within radius), verdicts land in the append-only
    * log with batch attribution.
    */
  def videoIngest(media: DataFrame, indexPath: String, verdictPath: String,
      checkpoint: String,
      maxHamming: Int = 2,
      skipReplayed: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    media.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty && !(skipReplayed &&
            replayedAlready(batch.sparkSession, verdictPath, batchId))) {
          val typed = batch.as[graft.multimodal.Multimodal.MediaRow](
            org.apache.spark.sql.Encoders.product[graft.multimodal.Multimodal.MediaRow])
          graft.multimodal.VideoHashIndex.dedupIngest(batch.sparkSession, indexPath,
              typed, maxHamming)
            .withColumn("batch_id", lit(batchId))
            .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(verdictPath)
          ()
        }
      }
      .start()

  /** The retrieval-index twin of `corpusIngest`: each micro-batch of
    * (doc_id, text, source) docs appends its posting rows into the
    * persisted `text.InvertedIndex` layout — arriving docs are term-
    * searchable from the next query on, with NO resident rewrite (the
    * reference rewrites its whole day-index per append). Same delivery
    * contract as the other ingest twins: at-least-once, and a replayed
    * batch fails LOUD on the doclens id-disjointness gate instead of
    * silently splitting a doc's term frequencies across duplicate
    * posting rows. `skipReplayed = true` upgrades to idempotent replay:
    * the index has no verdict log, so the gate keeps its own one-row-per-
    * batch `batchlog` sidecar under the index root, written AFTER the
    * append (log-present ⇒ append completed — the ordering the high-water
    * skip requires; a crash between append and log write still fails loud
    * on the doclens gate, the genuinely ambiguous state).
    */
  def invertedIngest(docs: DataFrame, indexPath: String,
      checkpoint: String,
      skipReplayed: Boolean = false): org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty && !(skipReplayed &&
            replayedAlready(batch.sparkSession, s"$indexPath/batchlog", batchId))) {
          graft.text.InvertedIndex.appendBatch(batch.sparkSession, batch, indexPath)
          if (skipReplayed) {
            batch.sparkSession.range(1)
              .select(lit(batchId).as("batch_id"))
              .write.mode(org.apache.spark.sql.SaveMode.Append)
              .parquet(s"$indexPath/batchlog")
          }
        }
      }
      .start()

  /** CDC stream → bucketed snapshot: a change stream with an `op` column
    * ("U" upsert / "D" delete) applies to the `sources.SnapshotStore`
    * layout per micro-batch — each batch rewrites only its dirty buckets,
    * so a trickle of changes against a 100-TB snapshot stays a trickle of
    * IO. Within one micro-batch a doc_id may carry several changes;
    * foreachBatch applies the LAST change per id in `seqCol` order (the
    * Debezium-style per-key ordering contract), so replaying a prefix of
    * the stream is idempotent per batch.
    */
  def snapshotCdc(changes: DataFrame, snapshotPath: String, checkpoint: String,
      seqCol: String = "seq"): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col(seqCol).desc)
          val latest = batch
            .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
            .localCheckpoint(true)
          val ups = latest.filter(col("op") === "U").drop("op", seqCol)
          val dels = latest.filter(col("op") === "D").select(col("doc_id"))
          graft.sources.SnapshotStore.upsert(batch.sparkSession, snapshotPath, ups, dels)
        }
      }
      .start()

  /** CDC into the VERSIONED store: same Debezium-shaped change stream and
    * last-change-per-key collapse as `snapshotCdc`, but every micro-batch
    * becomes an atomic manifest commit — so the stream leaves an auditable
    * version history (each batch = one version, time-travelable until
    * vacuumed) instead of mutating in place. foreachBatch serializes
    * batches, so the optimistic-concurrency gate never fires from the
    * stream itself; it still protects against an EXTERNAL writer racing
    * the stream, which the mutable twin cannot detect at all.
    */
  def versionedCdc(changes: DataFrame, storePath: String, checkpoint: String,
      seqCol: String = "seq"): org.apache.spark.sql.streaming.StreamingQuery =
    changes.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col("doc_id")).orderBy(col(seqCol).desc)
          val latest = batch
            .withColumn("_rn", org.apache.spark.sql.functions.row_number().over(w))
            .filter(col("_rn") === 1).drop("_rn")
            .localCheckpoint(true)
          val ups = latest.filter(col("op") === "U").drop("op", seqCol)
          val dels = latest.filter(col("op") === "D").select(col("doc_id"))
          graft.sources.VersionedStore.upsert(batch.sparkSession, storePath, ups, dels)
          ()
        }
      }
      .start()
}
