package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Parquet

/** CCNet-style n-gram language-model quality filter (Wenzek et al. 2020):
  * train a pruned bigram LM with stupid backoff (Brants et al. 2007) on a
  * reference slice of the corpus, score every document by model fit, and
  * bucket each language's documents into head / middle / tail by rank — the
  * classic "keep the head, drop the tail" web-curation gate. Not a reference
  * operator (the reference has no LM tier); this is the training-data
  * extension the builder prompt asks for, sitting beside the trained word
  * classifier (`TextAnalysis.qualityClassifier`) as the second of the two
  * standard quality scorers.
  *
  * Cross-engine exactness follows the repo's BM25 precedent: the hash-oracled
  * surface is INTEGER ONLY. Per-token stupid-backoff probabilities are fixed
  * point (parts-per-million, floor division on longs — `div` both engines);
  * document fit is their exact long sum and its integer mean. True perplexity
  * (`ppl`, the exp/ln form over the SAME ppm integers) is a transcendental
  * double, so it rides the operator output but stays off the oracle queries
  * and is pinned by `NgramLmSpec` hand fixtures instead — exactly how
  * `bm25Search` is covered by integer-exact `tfidfSearch`.
  *
  * Scale shape — train once, serve many, two scoring plans:
  *   - The MODEL is bounded by construction — top-`vocabSize` unigrams and
  *     top-`maxBigrams` vocab-interior bigrams (count-desc, key-asc: a total
  *     order, so pruning is deterministic at the cap boundary), the
  *     KenLM-pruning analog. Training is two token-stream aggregations; the
  *     artifact persists as a parquet table (`save`/`buildAt`) so serving
  *     never retrains (the `vec_pq_build` build/serve split).
  *   - SCORING is map-only either way: each row folds its own token array —
  *     no explode, no per-token join, no shuffle. Models at or under
  *     [[LiteralMapMaxEntries]] entries ride the plan as literal maps (full
  *     codegen, zero exchanges). Larger models — a production CCNet LM
  *     carries 1e5–1e7 entries, far past JVM codegen limits (64 KB method
  *     bodies, constant-pool pressure) for literal maps — ship as DATA
  *     instead: a one-row DataFrame holding the two maps, attached via a
  *     broadcast nested-loop join (1-row build side, no shuffle), with the
  *     IDENTICAL fold expression downstream. Because only the map columns'
  *     provenance changes, the two forms are bitwise-equal by construction
  *     (`NgramLmSpec` asserts it on an over-threshold model, ppl doubles
  *     included).
  */
object NgramLm {

  /** Fixed-point scale: probabilities in parts-per-million. */
  val ScalePpm = 1000000L

  /** Stupid-backoff alpha = 0.4 (Brants et al. 2007), pre-scaled. */
  val AlphaPpm = 400000L

  /** Largest model (unigram + bigram entries) shipped as in-plan literal
    * maps. Above this the maps ride a one-row broadcast join instead:
    * literal `CreateMap` emits two expressions per entry, and past a few
    * thousand entries codegen hits JVM method-size / constant-pool walls.
    * 2048 keeps the toy/oracle models (24 + 300) comfortably literal while
    * routing anything production-shaped to the data path.
    */
  val LiteralMapMaxEntries = 2048

  /** Pruned bigram LM: unigram counts, vocab-interior bigram counts keyed
    * "w1 w2", and the total training token count. All exact longs.
    */
  final case class LmModel(unigrams: Array[(String, Long)],
      bigrams: Array[(String, Long)], totalTokens: Long) {
    require(totalTokens > 0L, "empty training corpus")
  }

  /** Train on `train`'s `text` column. Unigrams: top `vocabSize` by
    * (count desc, word) — the same deterministic total order as
    * `buildVocab`. Bigrams: adjacent pairs whose BOTH words survived the
    * vocab cut (so every kept bigram can resolve its context count), top
    * `maxBigrams` by (count desc, pair). Two aggregations, one collect of
    * ≤ vocabSize + maxBigrams rows.
    */
  def train(train: DataFrame, vocabSize: Int = 24,
      maxBigrams: Int = 300): LmModel = {
    val ws = split(col("text"), " ")
    val tok = train.select(explode(ws).as("w"))
    val total = tok.count()
    require(total > 0L, "empty training corpus")
    val uni = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val vocab = uni.map(_._1).toSeq.sorted
    val pairs = train.select(explode(zip_with(
        slice(ws, lit(1), greatest(size(ws) - 1, lit(0))),
        slice(ws, lit(2), greatest(size(ws) - 1, lit(0))),
        (a, b) => concat(a, lit(" "), b))).as("pr"))
    val big = pairs
      .filter(split(col("pr"), " ").getItem(0).isInCollection(vocab) &&
        split(col("pr"), " ").getItem(1).isInCollection(vocab))
      .groupBy(col("pr")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("pr")).limit(maxBigrams)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    LmModel(uni, big, total)
  }

  // ---------------------------------------------------------------- persist

  /** Persist a trained model at `$path/model` as one parquet table
    * (kind ∈ {uni, big, total}, key, cnt) — the LM analog of the repo's
    * other build-once artifacts. Written fresh (builds target a new
    * directory, the `IvfPqIndex.build` contract), so no swap dance needed.
    */
  def save(spark: SparkSession, model: LmModel, path: String): Unit = {
    import spark.implicits._
    val rows =
      model.unigrams.toSeq.map { case (w, c) => ("uni", w, c) } ++
      model.bigrams.toSeq.map { case (p, c) => ("big", p, c) } :+
      (("total", "", model.totalTokens))
    rows.toDF("kind", "key", "cnt").write.mode("overwrite")
      .parquet(s"$path/model")
  }

  /** Train on the `trainLang` slice of `docs` and persist at `path` — the
    * registered `doc_lm_build` body.
    */
  def buildAt(spark: SparkSession, docs: DataFrame, path: String,
      trainLang: String = "en", vocabSize: Int = 24,
      maxBigrams: Int = 300): Unit =
    save(spark, train(docs.filter(col("lang") === trainLang), vocabSize,
      maxBigrams), path)

  /** Load a persisted model back into a driver-side [[LmModel]] (entry
    * order restored to the train() total order). Only sensible for models
    * small enough to collect — the serve entry points below pick the
    * DataFrame-backed path for anything larger without materializing.
    */
  def load(spark: SparkSession, path: String): LmModel = {
    val t = Parquet.read(spark, s"$path/model")
    def part(kind: String) = t.filter(col("kind") === kind)
      .orderBy(col("cnt").desc, col("key"))
      .collect().map(r => (r.getAs[String]("key"), r.getAs[Long]("cnt")))
    val total = t.filter(col("kind") === "total").head.getAs[Long]("cnt")
    LmModel(part("uni"), part("big"), total)
  }

  // ---------------------------------------------------------------- scoring

  /** Score every document against a trained model, MAP-ONLY. Per adjacent
    * token pair (prev, w):
    *   - bigram hit (pair and prev both in model):
    *     ppm = (ScalePpm * c(prev,w)) div c(prev)
    *   - else backoff: ppm = (AlphaPpm * c(w)) div totalTokens (0 when w is
    *     out of vocab — the floor CCNet assigns unmodeled mass).
    * Output per doc: n_tokens, n_scored (= pairs), n_hits (bigram hits),
    * sum_ppm (exact long sum), fit_ppm (= sum_ppm div n_scored — the
    * integer mean-probability fit the oracle hashes), and ppl (true stupid-
    * backoff perplexity exp(−Σ ln(max(ppm,1)/1e6)/n_scored) over the same
    * integers — spec-pinned double, dropped from the oracled query).
    */
  def scoreDocs(docs: DataFrame, model: LmModel): DataFrame =
    scoredUnsorted(docs, model).orderBy(col("doc_id"))

  /** Serve-from-artifact scoring: read the persisted model at `path` and
    * score without retraining. Small models collect into the literal-map
    * plan (identical to [[scoreDocs]] over [[load]]); models past
    * [[LiteralMapMaxEntries]] stay distributed — the two map columns are
    * aggregated straight from the model table and broadcast, nothing
    * model-sized ever lands on the driver.
    */
  def scoreDocsFrom(spark: SparkSession, docs: DataFrame,
      path: String): DataFrame =
    scoredUnsortedFrom(spark, docs, path).orderBy(col("doc_id"))

  /** Streaming twins: LM scoring is a stateless projection against a
    * STATIC model (literal maps, or a broadcast one-row join whose build
    * side is static — both legal on an unaggregated stream), so the
    * unsorted scoring forms apply to a document stream unchanged. Train on
    * a static reference slice (CCNet trains offline), persist, score the
    * stream.
    */
  def scoreDocsStream(docs: DataFrame, model: LmModel): DataFrame =
    scoredUnsorted(docs, model)

  /** [[scoreDocsStream]] serving the persisted artifact at `path`. */
  def scoreDocsStreamFrom(spark: SparkSession, docs: DataFrame,
      path: String): DataFrame =
    scoredUnsortedFrom(spark, docs, path)

  /** The scoring projection without the presentation sort — consumers that
    * re-shuffle anyway (the bucket window) start from this so the corpus
    * is sorted once, not twice. Dispatches literal-map vs broadcast-join
    * map provenance on model size; the fold itself is shared
    * ([[scoreProjection]]), so both forms are bitwise-identical.
    */
  private def scoredUnsorted(docs: DataFrame, model: LmModel): DataFrame =
    scoreProjection(withModelMaps(docs, model), model.totalTokens)

  private def scoredUnsortedFrom(spark: SparkSession, docs: DataFrame,
      path: String): DataFrame = {
    val t = Parquet.read(spark, s"$path/model")
    // Two driver scalars (entry count + total), the bounded-artifact rule.
    val meta = t.agg(
      sum(when(col("kind") =!= "total", 1L).otherwise(0L)).as("entries"),
      max(when(col("kind") === "total", col("cnt"))).as("total")).head
    val entries = meta.getLong(0)
    val total = meta.getLong(1)
    if (entries <= LiteralMapMaxEntries)
      scoredUnsorted(docs, load(spark, path))
    else
      scoreProjection(joinModelMaps(docs,
        t.filter(col("kind") === "uni").select(col("key"), col("cnt")),
        t.filter(col("kind") === "big").select(col("key"), col("cnt"))), total)
  }

  /** Spec plumbing: score with a PINNED map provenance (literal vs
    * broadcast), so `NgramLmSpec` can run one model through both forms and
    * assert bitwise equality. Production entry points dispatch on size.
    */
  private[graft] def scoreDocsForm(docs: DataFrame, model: LmModel,
      broadcastForm: Boolean): DataFrame =
    scoreProjection(withModelMaps(docs, model,
      forceLiteral = !broadcastForm, forceBroadcast = broadcastForm),
      model.totalTokens).orderBy(col("doc_id"))

  /** Attach `m_uni` / `m_big` map columns from a driver-side model:
    * literal maps at toy size, the broadcast data path past the threshold.
    */
  private def withModelMaps(docs: DataFrame, model: LmModel,
      forceLiteral: Boolean = false,
      forceBroadcast: Boolean = false): DataFrame = {
    val n = model.unigrams.length + model.bigrams.length
    if (forceLiteral || (!forceBroadcast && n <= LiteralMapMaxEntries)) {
      val uniMap = map(model.unigrams.flatMap { case (w, c) =>
        Seq(lit(w), lit(c)) }.toSeq: _*)
      // The sentinel key has no space, so it can never equal a "prev w"
      // pair — a typed stand-in for the empty map when no bigrams survive.
      val bigMap =
        if (model.bigrams.isEmpty) map(lit(""), lit(0L))
        else map(model.bigrams.flatMap { case (p, c) =>
          Seq(lit(p), lit(c)) }.toSeq: _*)
      docs.withColumn("m_uni", uniMap).withColumn("m_big", bigMap)
    } else {
      val spark = docs.sparkSession
      import spark.implicits._
      joinModelMaps(docs,
        model.unigrams.toSeq.toDF("key", "cnt"),
        model.bigrams.toSeq.toDF("key", "cnt"))
    }
  }

  /** The data path: fold each model table into ONE map value and attach it
    * to every doc row via a one-row broadcast nested-loop join. No shuffle
    * (broadcast build side), no per-token join (the fold still indexes the
    * map row-locally), and the model is data, not code — no codegen limits.
    * An empty bigram table folds to an empty map, whose lookups are null —
    * the same semantics as the literal sentinel.
    */
  private def joinModelMaps(docs: DataFrame, uniDf: DataFrame,
      bigDf: DataFrame): DataFrame = {
    def asMapRow(df: DataFrame, name: String) =
      df.agg(map_from_entries(
        collect_list(struct(col("key"), col("cnt")))).as(name))
    docs.crossJoin(broadcast(
      asMapRow(uniDf, "m_uni").crossJoin(asMapRow(bigDf, "m_big"))))
  }

  /** The shared fold: consumes `m_uni`/`m_big` however they arrived. Both
    * scoring forms run exactly this expression tree, which is what makes
    * literal ≡ broadcast bitwise (ppl doubles included — same fold order).
    */
  private def scoreProjection(withMaps: DataFrame,
      totalTokens: Long): DataFrame =
    withMaps
      .withColumn("pair_ppm", expr(
        s"""zip_with(
           |  slice(split(text, ' '), 1, greatest(size(split(text, ' ')) - 1, 0)),
           |  slice(split(text, ' '), 2, greatest(size(split(text, ' ')) - 1, 0)),
           |  (a, b) -> named_struct(
           |    'hit', m_big[concat(a, ' ', b)] IS NOT NULL AND m_uni[a] IS NOT NULL,
           |    'ppm', CASE
           |      WHEN m_big[concat(a, ' ', b)] IS NOT NULL AND m_uni[a] IS NOT NULL
           |        THEN (${ScalePpm}L * m_big[concat(a, ' ', b)]) div m_uni[a]
           |      ELSE (${AlphaPpm}L * coalesce(m_uni[b], 0L)) div ${totalTokens}L
           |    END))""".stripMargin))
      .select(col("doc_id"), col("lang"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(col("pair_ppm")).cast("long").as("n_scored"),
        expr("aggregate(pair_ppm, 0L, (acc, x) -> acc + CASE WHEN x.hit THEN 1L ELSE 0L END)")
          .as("n_hits"),
        expr("aggregate(pair_ppm, 0L, (acc, x) -> acc + x.ppm)").as("sum_ppm"),
        expr("aggregate(pair_ppm, CAST(0.0 AS DOUBLE), (acc, x) -> acc + ln(greatest(x.ppm, 1L) / 1e6))")
          .as("_lnsum"))
      .withColumn("fit_ppm",
        expr("sum_ppm div greatest(n_scored, 1L)"))
      .withColumn("ppl",
        when(col("n_scored") === 0L, lit(Double.NaN))
          .otherwise(exp(-col("_lnsum") / col("n_scored").cast("double"))))
      .drop("_lnsum")

  /** Train-then-score in one call — the self-contained form (the registered
    * query serves from the cached artifact via [[scoreDocsFrom]]). The
    * training slice is the docs matching `trainLang` (CCNet trains its
    * reference LM on the target language's clean corpus; here the
    * generator's `lang` column is that label).
    */
  def lmScore(docs: DataFrame, trainLang: String = "en",
      vocabSize: Int = 24, maxBigrams: Int = 300): DataFrame =
    scoreDocs(docs,
      train(docs.filter(col("lang") === trainLang), vocabSize, maxBigrams))

  // ---------------------------------------------------------------- rollups

  /** Per-source LM quality audit — the per-domain perplexity table every
    * CCNet-style curation run reports (quality drift by source: a crawl
    * slice whose model fit craters relative to its siblings is the one to
    * re-filter or down-weight in the mixture). Scores every document and
    * rolls the EXACT integer per-doc signals up by source: doc/token/pair/
    * hit counts, the long ppm sum, the integer mean fit, and bigram hits
    * per 1000 scored pairs (integer `div` — no float anywhere, so the whole
    * row hashes cross-engine). Scale shape: map-only scoring + one
    * source-keyed aggregation (bounded key space, map-side combined).
    */
  def lmSourceAudit(docs: DataFrame, trainLang: String = "en",
      vocabSize: Int = 24, maxBigrams: Int = 300): DataFrame =
    sourceRollup(scoredUnsorted(docs,
      train(docs.filter(col("lang") === trainLang), vocabSize, maxBigrams)))

  /** [[lmSourceAudit]] served from a persisted model — no retraining. */
  def lmSourceAuditFrom(spark: SparkSession, docs: DataFrame,
      path: String): DataFrame =
    sourceRollup(scoredUnsortedFrom(spark, docs, path))

  private def sourceRollup(scored: DataFrame): DataFrame =
    scored
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_scored")).as("n_scored"),
        sum(col("n_hits")).as("n_hits"),
        sum(col("sum_ppm")).as("sum_ppm"))
      .withColumn("fit_ppm", expr("sum_ppm div greatest(n_scored, 1L)"))
      .withColumn("hits_per_1000", expr("(1000L * n_hits) div greatest(n_scored, 1L)"))
      .orderBy(col("source"))

  /** CCNet head/middle/tail bucketing: within each language, rank documents
    * by model fit (fit_ppm desc — best fit first, doc_id tie-break: a total
    * order, so percent_rank is deterministic) and cut at 30% / 70%. Returns
    * the per-(lang, bucket) roll-up — doc counts and exact integer fit
    * sums/extremes. The window partitions by lang (bounded key space); at
    * corpus scale each partition is one language's docs, the same
    * distribution shape as any per-lang percentile gate.
    */
  def perplexityBuckets(docs: DataFrame, trainLang: String = "en",
      vocabSize: Int = 24, maxBigrams: Int = 300): DataFrame =
    bucketRollup(scoredUnsorted(docs,
      train(docs.filter(col("lang") === trainLang), vocabSize, maxBigrams)))

  /** [[perplexityBuckets]] served from a persisted model — no retraining. */
  def perplexityBucketsFrom(spark: SparkSession, docs: DataFrame,
      path: String): DataFrame =
    bucketRollup(scoredUnsortedFrom(spark, docs, path))

  /** Per-doc head/middle/tail labels (the 30/70 cut of
    * [[perplexityBuckets]] before its roll-up).
    */
  /** The OFFLINE percentile calibration that closes the loop between the
    * corpus-relative CCNet cut ([[perplexityBucketsFrom]]) and the
    * fixed-threshold gates a STREAM applies
    * (`EventStream.curatedCorpusIngest`'s `minFitPpm`): per language, the
    * fit-ppm floor of the head bucket (30th percentile in fit-descending
    * order) and of head∪middle (70th). A streaming gate keeping
    * `fit_ppm ≥ head_floor_ppm` admits exactly the reference slice's head
    * bucket, up to docs TIED with the floor value (percent_rank breaks
    * ties by doc_id; a value threshold cannot, and admits the whole tie
    * group — the conservative side).
    */
  def lmCutoffsFrom(spark: SparkSession, docs: DataFrame, path: String): DataFrame =
    bucketed(scoredUnsortedFrom(spark, docs, path))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        min(when(col("bucket") === "head", col("fit_ppm"))).as("head_floor_ppm"),
        min(when(col("bucket") =!= "tail", col("fit_ppm"))).as("middle_floor_ppm"))
      .orderBy(col("lang"))

  private def bucketed(scored: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(col("fit_ppm").desc, col("doc_id"))
    scored
      .withColumn("pr", percent_rank().over(w))
      .withColumn("bucket",
        when(col("pr") <= 0.3, lit("head"))
          .when(col("pr") <= 0.7, lit("middle"))
          .otherwise(lit("tail")))
  }

  private def bucketRollup(scored: DataFrame): DataFrame =
    bucketed(scored)
      .groupBy(col("lang"), col("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("fit_ppm")).as("sum_fit_ppm"),
        min(col("fit_ppm")).as("min_fit_ppm"),
        max(col("fit_ppm")).as("max_fit_ppm"))
      .orderBy(col("lang"), col("bucket"))

  /** The CCNet SELECTION itself — "keep the head (and optionally the
    * middle), drop the tail": per-doc bucket labels from the persisted
    * model's fit, filtered to `keep`. The composed gate a curation
    * pipeline actually applies after the audit queries above; one window
    * by lang, no other shuffle beyond scoring.
    */
  def lmGateFrom(spark: SparkSession, docs: DataFrame, path: String,
      keep: Seq[String] = Seq("head", "middle")): DataFrame =
    bucketed(scoredUnsortedFrom(spark, docs, path))
      .filter(col("bucket").isInCollection(keep))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("fit_ppm"), col("bucket"))
      .orderBy(col("doc_id"))
}
