package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.Parquet

/** Text-analysis operators over `documents` — the quality/filtering stage of
  * a training-data pipeline (builder-prompt scale extensions; the reference
  * counterpart is its text shaping layer, SURVEY.md §2.3 R8-R10).
  * Everything is a single narrow projection + cheap scalar expressions, so
  * at 100 TB this is a map-only stage: no shuffle, full codegen, parquet
  * column pruning down to (doc_id, text[, source]).
  */
object TextAnalysis {

  private val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of"),
    "fr" -> Seq("le", "la", "les"),
    "de" -> Seq("der", "die", "das"),
    "es" -> Seq("el", "los", "una"))

  private def markerCount(words: Column, markers: Seq[String]): Column =
    markers.map(m => size(filter(words, w => w === m)).cast("long")).reduce(_ + _)

  /** Marker-word language ID (n-gram-profile heuristic): score each language
    * by its function-word hits, argmax with deterministic tie-break to the
    * first language in declaration order, "und" when nothing matches.
    */
  def languageId(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    val scored = docs.select(
      col("doc_id") +: langMarkers.map { case (l, ms) => markerCount(words, ms).as(s"score_$l") }: _*)
    val best = langMarkers.map { case (l, _) => col(s"score_$l") }.reduce((a, b) => greatest(a, b))
    // first-declared language wins ties (fold from the back so 'en' ends outermost)
    val predFirstWins = langMarkers.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"score_$l") === col("best_score") && col("best_score") > 0, lit(l)).otherwise(acc)
    }
    scored.withColumn("best_score", best)
      .withColumn("pred_lang", predFirstWins)
      .select(col("doc_id"), col("pred_lang"), col("best_score"),
        col("score_en"), col("score_fr"), col("score_de"), col("score_es"))
      .orderBy(col("doc_id"))
  }

  /** Language-ID confusion audit: the marker heuristic vs the corpus's
    * labeled `lang` column — one row per (label, prediction) with its
    * count and within-label rate. The audit a pipeline runs before
    * trusting a cheap classifier as a GATE: the per-label error mass says
    * which languages the heuristic would silently drop. Two bounded
    * aggregations (the key space is languages², calendar-class small);
    * the rate is one IEEE division.
    */
  def langConfusion(docs: DataFrame): DataFrame = {
    val pred = languageId(docs).select(col("doc_id"), col("pred_lang"))
    val cells = docs.select(col("doc_id"), col("lang")).join(pred, Seq("doc_id"))
      .groupBy(col("lang"), col("pred_lang")).agg(count(lit(1)).as("n_docs"))
    val totals = cells.groupBy(col("lang")).agg(sum(col("n_docs")).as("n_lang"))
    cells.join(totals, Seq("lang"))
      .select(col("lang"), col("pred_lang"), col("n_docs"),
        (col("n_docs").cast("double") / col("n_lang").cast("double")).as("rate"))
      .orderBy(col("lang"), col("pred_lang"))
  }

  /** Heuristic quality score: type-token ratio, stopword ratio, length
    * score, combined with fixed weights. Single-pass scalar math (ratios
    * are one division each — deterministic float64 both engines).
    */
  def qualityScore(docs: DataFrame): DataFrame = {
    val words = split(col("text"), " ")
    docs.select(col("doc_id"), col("n_chars"),
        size(words).cast("long").as("n_words"),
        size(array_distinct(words)).cast("long").as("n_distinct"),
        markerCount(words, Seq("the", "a")).as("n_stop"))
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_words").cast("double"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_words").cast("double"))
      .withColumn("len_score", least(col("n_chars").cast("double") / 500.0, lit(1.0)))
      .select(col("doc_id"), col("n_words"), col("n_distinct"),
        col("ttr"),
        col("stop_ratio"),
        (lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * col("len_score")).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens vs regex (BPE-ish `[a-z]+` pieces)
    * vs distinct — the usual corpus-stats triple.
    */
  def tokenCounts(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long").as("n_re_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct_tokens"),
        length(col("text")).cast("long").as("n_chars_measured"))
      .orderBy(col("doc_id"))

  /** Curated-corpus sink: the classic end of a training-data pipeline —
    * score, filter, and persist partitioned by predicted language so
    * downstream jobs partition-prune by lang. Returns per-partition counts.
    */
  def writeCurated(docs: DataFrame, path: String, minQuality: Double = 0.5): DataFrame = {
    val scored = qualityScore(docs).select(col("doc_id"), col("quality"))
    val langs = languageId(docs).select(col("doc_id"), col("pred_lang"))
    val curated = docs.join(scored, "doc_id").join(langs, "doc_id")
      .filter(col("quality") >= minQuality)
    curated.write.mode("overwrite").partitionBy("pred_lang").parquet(path)
    Parquet.read(curated.sparkSession, path)
      .groupBy(col("pred_lang"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("pred_lang"))
  }

  /** End-to-end corpus cleaning — the composed filtering stage of a
    * training-data pipeline: language gate (keep `lang`), quality gate
    * (keep >= `minQuality`), and near-dup cluster-loser drop (keep only
    * each near-dup cluster's minimum-id survivor, per
    * `Dedup.dupClusters`). Dedup runs over the FULL corpus before the
    * per-doc gates, matching production order (a dup of a kept doc must
    * die even if its own quality passes).
    *
    * Scale shape: BOTH per-doc gates are scalar expressions over the same
    * `text` column, so they fuse into ONE projection over one corpus scan
    * — no per-gate join, no second pass (at 100 TB, a saved full-corpus
    * scan + two saved doc_id shuffle joins). The expressions are the same
    * trees `languageId`/`qualityScore` emit, so the oracle values are
    * unchanged. The only remaining shuffle is the loser anti-join against
    * the (tiny) dup-cluster output.
    */
  def cleanCorpus(docs: DataFrame, lang: String = "en", minQuality: Double = 0.55,
      jaccardThreshold: Double = 0.3): DataFrame = {
    val words = split(col("text"), " ")
    val scoreCols = langMarkers.map { case (l, ms) => markerCount(words, ms).as(s"score_$l") }
    val best = langMarkers.map { case (l, _) => col(s"score_$l") }.reduce((a, b) => greatest(a, b))
    val predFirstWins = langMarkers.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"score_$l") === col("best_score") && col("best_score") > 0, lit(l)).otherwise(acc)
    }
    val losers = Dedup.dupClusters(docs, jaccardThreshold)
      .filter(col("doc_id") =!= col("cluster_id")).select(col("doc_id"))
    docs
      .select(Seq(col("doc_id"), col("n_chars"),
        size(words).cast("long").as("n_words"),
        size(array_distinct(words)).cast("long").as("n_distinct"),
        markerCount(words, Seq("the", "a")).as("n_stop")) ++ scoreCols: _*)
      .withColumn("best_score", best)
      .withColumn("pred_lang", predFirstWins)
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_words").cast("double"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_words").cast("double"))
      .withColumn("quality",
        lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * least(col("n_chars").cast("double") / 500.0, lit(1.0)))
      .filter(col("pred_lang") === lang && col("quality") >= minQuality)
      .join(losers, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("pred_lang"), col("n_words"), col("quality"))
      .orderBy(col("doc_id"))
  }

  /** Percentile quality gate: drop each source's bottom `minPct` quality
    * tail — the relative form of the absolute `minQuality` gate in
    * `cleanCorpus` (per-domain thresholds are how production pipelines
    * keep a noisy source from monopolizing the cut). percent_rank is a
    * per-source window — partition-bounded, no global sort; at extreme
    * per-source cardinality the threshold would come from an
    * approx-percentile pass instead (same output contract).
    */
  def qualityGate(docs: DataFrame, minPct: Double = 0.1): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source")).orderBy(col("quality"), col("doc_id"))
    qualityScore(docs).select(col("doc_id"), col("quality"))
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("pr", percent_rank().over(w))
      .filter(col("pr") >= minPct)
      .select(col("doc_id"), col("source"), col("quality"), col("pr"))
      .orderBy(col("doc_id"))
  }

  /** Gopher rule-set quality gate (Rae et al. 2021, appendix A1.1): the
    * published hand-rule bundle web pipelines run BEFORE any trained
    * scorer — word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio, alphabetic-word fraction, and stop-word presence. The line-based
    * rules (bullet/ellipsis line fractions) are omitted: this corpus has no
    * line structure (the operators are parameterized where the corpus
    * shape matters — `stopwords` defaults to Gopher's own list; registered
    * queries pass this generator's function words so the rule genuinely
    * splits). Every rule is an INTEGER comparison (mean bounds as
    * cross-multiplied products — `3·n ≤ Σlen ≤ 10·n`, ratio caps as
    * `10·n_sym ≤ n` / `5·n_alpha ≥ 4·n`), so the whole gate is
    * cross-engine hash-exact with no float anywhere. Map-only: one
    * projection folding each row's own token array, no shuffle.
    */
  def gopherGate(docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame =
    gopherSignals(docs, stopwords, minWords, maxWords).orderBy(col("doc_id"))

  /** [[gopherGate]] without the presentation sort — the form a STREAM can
    * run (sorting is illegal on an unaggregated stream, and a stateless
    * gate doesn't need it): one projection folding each row's own token
    * array, usable verbatim as the micro-batch twin
    * (`EventStream.gopherGateStream`).
    */
  def gopherSignals(docs: DataFrame,
      stopwords: Seq[String] = Seq("the", "be", "to", "of", "and", "that", "have", "with"),
      minWords: Long = 50L, maxWords: Long = 100000L): DataFrame = {
    require(stopwords.nonEmpty, "need a stop-word list")
    val ws = split(col("text"), " ")
    val nStop = stopwords.map(sw =>
      when(array_contains(ws, sw), 1L).otherwise(0L)).reduce(_ + _)
    docs.select(col("doc_id"), col("source"),
        size(ws).cast("long").as("n_words"),
        expr("aggregate(transform(split(text, ' '), w -> length(w)), 0L, (a, x) -> a + x)")
          .as("sum_word_chars"),
        size(filter(ws, w => w === "#" || w === "...")).cast("long").as("n_sym"),
        size(filter(ws, w => w.rlike("[a-z]"))).cast("long").as("n_alpha"),
        nStop.as("n_stop"))
      .withColumn("r_wordcount",
        col("n_words") >= minWords && col("n_words") <= maxWords)
      .withColumn("r_wordlen",
        lit(3L) * col("n_words") <= col("sum_word_chars") &&
          col("sum_word_chars") <= lit(10L) * col("n_words"))
      .withColumn("r_symbol", lit(10L) * col("n_sym") <= col("n_words"))
      .withColumn("r_alpha", lit(5L) * col("n_alpha") >= lit(4L) * col("n_words"))
      .withColumn("r_stop", col("n_stop") >= 2L)
      .withColumn("pass",
        col("r_wordcount") && col("r_wordlen") && col("r_symbol") &&
          col("r_alpha") && col("r_stop"))
  }

  /** Content fingerprint: md5 over the sorted distinct word set (word-set
    * normalization — robust to reordering/repetition). `n_same` counts
    * fingerprint collisions, i.e. docs built from the same vocabulary set.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        md5(array_join(array_sort(array_distinct(split(col("text"), " "))), " ")).as("fp"))
      .withColumn("n_same",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window.partitionBy(col("fp"))))
      .orderBy(col("doc_id"))

  /** Fused language+quality gate that KEEPS the input's columns (the
    * composable form of `cleanCorpus`'s scalar stage, for pipelines that
    * still need `text`/`source` downstream): one scan, one projection, no
    * shuffle; both predicates are the same expression trees as
    * `languageId`/`qualityScore`, so gate decisions agree bit-for-bit
    * with the standalone operators and the DuckDB oracle.
    */
  def gate(docs: DataFrame, lang: String = "en", minQuality: Double = 0.55): DataFrame = {
    val words = split(col("text"), " ")
    val scoreCols = langMarkers.map { case (l, ms) => markerCount(words, ms).as(s"score_$l") }
    val best = langMarkers.map { case (l, _) => col(s"score_$l") }.reduce((a, b) => greatest(a, b))
    val predFirstWins = langMarkers.reverse.foldLeft(lit("und")) { case (acc, (l, _)) =>
      when(col(s"score_$l") === col("best_score") && col("best_score") > 0, lit(l)).otherwise(acc)
    }
    docs
      .select(col("*") +: (Seq(
        size(words).cast("long").as("n_words"),
        size(array_distinct(words)).cast("long").as("n_distinct"),
        markerCount(words, Seq("the", "a")).as("n_stop")) ++ scoreCols): _*)
      .withColumn("best_score", best)
      .withColumn("pred_lang", predFirstWins)
      .withColumn("ttr", col("n_distinct").cast("double") / col("n_words").cast("double"))
      .withColumn("stop_ratio", col("n_stop").cast("double") / col("n_words").cast("double"))
      .withColumn("quality",
        lit(0.4) * col("ttr") + lit(0.3) * (lit(1.0) - col("stop_ratio")) +
          lit(0.3) * least(col("n_chars").cast("double") / 500.0, lit(1.0)))
      .filter(col("pred_lang") === lang && col("quality") >= minQuality)
      .select(docs.columns.map(col).toSeq :+ col("pred_lang") :+ col("n_words") :+ col("quality"): _*)
  }

  /** Target-domain relevance scoring — the selection signal of
    * importance-resampling data selection (DSIR, Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"), in
    * an INTEGER-EXACT form: a doc's `relevance` is the sum over its
    * tokens of that word's occurrence count in the target corpus (the
    * unnormalized unigram importance numerator — integer arithmetic, so
    * both engines agree bit-for-bit, unlike log-likelihood forms whose
    * last-ulp log() differences break cross-engine hashing). `density`
    * (relevance / n_tokens, one IEEE division — also engine-exact) is the
    * length-normalized selection key.
    *
    * Scale shape: target word counts join the corpus token stream on
    * `word` — NO broadcast hint: AQE broadcasts from runtime size when
    * the target vocabulary is small (eval suites, domain seeds) and
    * degrades to a shuffle join when a whole target domain's vocabulary
    * isn't broadcastable (the `Dedup.simhashSigs` vocabulary-join
    * precedent); one partial-agg shuffle keyed by doc_id. No floats
    * until the final division.
    */
  def targetRelevance(corpus: DataFrame, target: DataFrame): DataFrame = {
    val targetCounts = target
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("t_count"))
    corpus
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .join(targetCounts, Seq("word"), "left")
      .groupBy(col("doc_id"))
      .agg(sum(coalesce(col("t_count"), lit(0L))).as("relevance"),
        count(lit(1)).as("n_tokens"))
      .withColumn("density",
        col("relevance").cast("double") / col("n_tokens").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Top-k selection by target relevance density — the "keep the most
    * target-like docs" cut. Deterministic (density, doc_id) order; lowers
    * to a TakeOrderedAndProject, never a global sort.
    */
  def selectByRelevance(corpus: DataFrame, target: DataFrame, k: Int = 50): DataFrame =
    targetRelevance(corpus, target)
      .orderBy(col("density").desc, col("doc_id"))
      .limit(k)

  /** Conjunctive keyword search: docs containing ALL query terms, ranked
    * by total term frequency (integer — engine-portable), ties on doc_id.
    * Map-only scoring (per-term `size(filter(...))` over the token array,
    * no explode, no shuffle) + a TakeOrderedAndProject top-k: the corpus
    * exploration primitive, and the exact-match complement of the vector
    * search tier. At 100 TB the conjunctive filter prunes before ranking,
    * and a parquet bloom/dictionary filter on `text` would push further.
    */
  def searchDocs(docs: DataFrame, terms: Seq[String], k: Int = 20): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    val words = split(col("text"), " ")
    // Project the per-term tfs ONCE, then filter/sum on the projected
    // columns — referencing the raw token array in the filter would make
    // the pushed-down predicate re-evaluate every term's array scan a
    // second time.
    val tfNames = terms.indices.map(i => s"_tf$i")
    val projected = docs.select(
      col("doc_id") +: col("source") +:
        terms.zip(tfNames).map { case (t, n) =>
          size(filter(words, w => w === t)).cast("long").as(n)
        }: _*)
    projected
      .filter(tfNames.map(col(_) > 0).reduce(_ && _))
      .select(col("doc_id"), col("source"),
        tfNames.map(col).reduce(_ + _).as("total_tf"))
      .orderBy(col("total_tf").desc, col("doc_id"))
      .limit(k)
  }

  /** Canonical text normalization for dedup keying: lowercase, non-
    * alphanumerics to spaces, whitespace collapsed and trimmed — the
    * pre-hash canonicalization every production dedup runs so that case
    * and punctuation variants of the same content collide. ASCII-scoped
    * (the corpus contract); both regexes are portable Spark↔RE2 syntax.
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9 ]", " "), " +", " "))

  /** Duplicate groups under NORMALIZED text: groups whose canonical form
    * collides, with the count of distinct RAW variants inside each (1 =
    * plain exact dups; >1 = case/punctuation variants only normalization
    * catches). Same hash-groupBy shape as exact dedup — normalization is
    * a map-side projection, so the scale story is unchanged.
    */
  def normalizedDupGroups(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), md5(col("text")).as("raw_h"),
        md5(normalizeText(col("text"))).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("raw_h")).as("n_raw_variants"),
        array_join(transform(sort_array(collect_list(col("doc_id"))),
          x => x.cast("string")), ",").as("doc_ids"))
      .filter(col("n_docs") > 1)
      .select(col("h").as("norm_hash"), col("n_docs"), col("n_raw_variants"),
        col("doc_ids"))
      .orderBy(col("norm_hash"))

  /** Train the weight table of a linear bag-of-words classifier for "reads
    * like `targetSource`" — the trained quality-classifier gate of
    * GPT-3/LLaMA-style curation (a fastText-class linear model), in an
    * integer-exact fixed-point form. Per vocab word,
    *
    *   w(word) = ⌊S·(cntT+1)/(totT+V)⌋ − ⌊S·(cntB+1)/(totB+V)⌋,  S = 1e9
    *
    * the difference of add-1-smoothed class-conditional word probabilities
    * (T = target class, B = background, V = vocab size, totals over vocab
    * tokens). Each weight's SIGN equals the Naive-Bayes log-odds sign for
    * that word — both compare the same two smoothed probabilities — so the
    * Σ tf·w decision score is the probability-difference linear analog of
    * NB, chosen over log-space NB because every operation here is integer
    * and therefore bit-exact across engines (the `tfidfSearch` /
    * `targetRelevance` fixed-point precedent; last-ulp ln() divergence
    * would break cross-engine hashing).
    *
    * Scale shape: vocab = top-`vocabSize` words by global count (bounded
    * driver artifact, the `buildVocab` class); training counts = ONE
    * token-stream aggregation keyed by vocab word (keyspace = V after the
    * vocab semi-join; AQE broadcasts the vocab side). Class totals fold on
    * the driver over the V collected rows.
    */
  def trainWordClassifier(docs: DataFrame, targetSource: String,
      vocabSize: Int = 300): Array[(String, Long)] = {
    val tok = docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize).select(col("w"))
    val cls = tok.join(vocab, Seq("w"))
      .groupBy(col("w"))
      .agg(sum(when(col("source") === targetSource, 1L).otherwise(0L)).as("ct"),
        sum(when(col("source") =!= targetSource, 1L).otherwise(0L)).as("cb"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    require(cls.nonEmpty, "empty corpus: no vocabulary to train on")
    val v = cls.length.toLong
    val totT = cls.map(_._2).sum
    val totB = cls.map(_._3).sum
    val S = 1000000000L
    cls.map { case (w, ct, cb) =>
      w -> (S * (ct + 1) / (totT + v) - S * (cb + 1) / (totB + v))
    }.sortBy(_._1)
  }

  /** Score every doc against a trained weight table, MAP-ONLY: the weights
    * ride as a literal map (the `Curation.tokenize` pattern) and each row
    * folds its own token array — no explode, no join, no shuffle; out-of-
    * vocabulary tokens contribute 0. `pred_target` is the decision at the
    * natural 0 threshold.
    */
  def classifyDocs(docs: DataFrame, weights: Array[(String, Long)]): DataFrame = {
    require(weights.nonEmpty, "need a non-empty weight table")
    val wmap = map(weights.flatMap { case (w, wt) => Seq(lit(w), lit(wt)) }.toSeq: _*)
    docs.select(col("doc_id"), col("source"),
        aggregate(split(col("text"), " "), lit(0L),
          (acc, x) => acc + coalesce(element_at(wmap, x), lit(0L))).as("score"))
      .withColumn("pred_target", col("score") > 0)
      .orderBy(col("doc_id"))
  }

  /** Multi-class domain classifier — the fastText-supervised posture of
    * the binary quality pair ([[trainWordClassifier]]): add-one-smoothed
    * per-source word scores in scaled-integer arithmetic,
    * score(w, s) = ⌊S·(c_ws + 1) / (tot_s + |V|)⌋, trained in ONE
    * aggregation over the top-`vocabSize` vocabulary. Returns the sorted
    * source list and per-word score vectors (a driver-bounded artifact of
    * the centroid class; at a production vocab the literal map gives way
    * to a broadcast join — the `NgramLm.scoreDocsFrom` precedent).
    */
  def trainDomainClassifier(docs: DataFrame, vocabSize: Int = 300)
      : (Seq[String], Array[(String, Array[Long])]) = {
    val sources = docs.select(col("source")).distinct()
      .collect().map(_.getString(0)).sorted.toSeq
    val tok = docs.select(col("source"), explode(split(col("text"), " ")).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w")).limit(vocabSize).select(col("w"))
    val sumCols = sources.map(s =>
      sum(when(col("source") === s, 1L).otherwise(0L)).as(s"c_$s"))
    val counts = tok.join(vocab, Seq("w"))
      .groupBy(col("w"))
      .agg(sumCols.head, sumCols.tail: _*)
      .collect()
      .map(r => (r.getString(0), sources.indices.map(i => r.getLong(i + 1)).toArray))
    require(counts.nonEmpty, "empty corpus: no vocabulary to train on")
    val v = counts.length.toLong
    val tots = sources.indices.map(i => counts.map(_._2(i)).sum).toArray
    val S = 1000000000L
    (sources, counts.map { case (w, cs) =>
      w -> sources.indices.map(i => S * (cs(i) + 1) / (tots(i) + v)).toArray
    }.sortBy(_._1))
  }

  /** Score every doc against every source and pick the integer argmax —
    * map-only: one literal word → score-vector map, one fold per row
    * accumulating the per-source sums elementwise, ties broken toward the
    * lexicographically smallest source (index order over the sorted
    * list). Output: (doc_id, source, pred_source, margin) where margin =
    * best − runner-up total (0 on a tie — the audit signal for
    * unconfident routing).
    */
  def classifyDomains(docs: DataFrame,
      model: (Seq[String], Array[(String, Array[Long])])): DataFrame =
    domainSignals(docs, model).orderBy(col("doc_id"))

  /** [[classifyDomains]] minus its presentation sort — the form that runs
    * verbatim on an unaggregated STREAM (the `gopherSignals` precedent):
    * the model is a driver artifact, the scoring one map-only projection,
    * so stream output equals batch output bit-for-bit.
    */
  def domainSignals(docs: DataFrame,
      model: (Seq[String], Array[(String, Array[Long])])): DataFrame = {
    val (sources, weights) = model
    require(weights.nonEmpty, "need a non-empty weight table")
    val k = sources.length
    val zeros = array(Seq.fill(k)(lit(0L)): _*)
    val wmap = map(weights.flatMap { case (w, vs) =>
      Seq(lit(w), array(vs.map(lit(_)).toSeq: _*)) }.toSeq: _*)
    val sums = aggregate(split(col("text"), " "), zeros,
      (acc, x) => zip_with(acc, coalesce(element_at(wmap, x), zeros), (a, b) => a + b))
    val srcArr = array(sources.map(lit(_)): _*)
    val best = array_max(col("sums"))
    // argmax with smallest-index tie-break: first position holding the max
    val bestIdx = element_at(
      filter(transform(col("sums"), (v, i) => when(v === best, i + 1)), x => x.isNotNull), 1)
    val margin =
      if (k == 1) lit(0L)
      else best - array_max(filter(
        transform(col("sums"), (v, i) => when(i + 1 =!= bestIdx, v)), x => x.isNotNull))
    docs.select(col("doc_id"), col("source"), sums.as("sums"))
      .withColumn("pred_source", element_at(srcArr, bestIdx))
      .withColumn("margin", margin)
      .select(col("doc_id"), col("source"), col("pred_source"), col("margin"))
  }

  /** Train-then-score in one call — the registered-query form. */
  def domainClassifier(docs: DataFrame, vocabSize: Int = 300): DataFrame =
    classifyDomains(docs, trainDomainClassifier(docs, vocabSize))

  /** Train-then-score in one call — the registered-query form. */
  def qualityClassifier(docs: DataFrame, targetSource: String,
      vocabSize: Int = 300): DataFrame =
    classifyDocs(docs, trainWordClassifier(docs, targetSource, vocabSize))

  /** Decision-threshold calibration by ROC sweep: among all cutoffs
    * "positive iff score ≥ t" (t ranging over observed scores), pick the
    * one maximizing BALANCED accuracy — the imbalance-robust criterion
    * (the raw-0 cut of a probability-difference scorer misfires when the
    * target class is 1 source in 20; the held-out spec demonstrated it).
    * Everything is integer: candidates collapse to per-distinct-score
    * counts, cumulative tp/fp come from one prefix-sum window, and the
    * argmax key is tp·N + tn·P (the integer order-equivalent of balanced
    * accuracy — no float enters the comparison). Scale note: the sweep's
    * window runs over DISTINCT scores, not docs; at corpus scale bucket
    * the score axis first (the exact-quantile engine's histogram trick)
    * and sweep bucket boundaries.
    */
  def calibrateThreshold(scored: DataFrame, isPos: Column): DataFrame = {
    val per = scored.groupBy(col("score")).agg(
      sum(when(isPos, 1L).otherwise(0L)).as("np"),
      sum(when(isPos, 0L).otherwise(1L)).as("nn"))
    val tot = per.agg(sum(col("np")).as("p"), sum(col("nn")).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    per
      .withColumn("tp", sum(col("np")).over(w))
      .withColumn("fp", sum(col("nn")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("tn", col("n") - col("fp"))
      .withColumn("fn", col("p") - col("tp"))
      .orderBy((col("tp") * col("n") + col("tn") * col("p")).desc, col("score"))
      .limit(1)
      .select(col("score").as("threshold"), col("tp"), col("fp"), col("fn"), col("tn"),
        ((col("tp").cast("double") / col("p").cast("double") +
          col("tn").cast("double") / col("n").cast("double")) / lit(2.0))
          .as("balanced_accuracy"))
  }

  /** Source-balance audit for the data card: per-source token share plus
    * the corpus-level inverse-Simpson "effective number of sources"
    * (1/Σp² — 20 equal sources score 20, one dominant source scores ≈ 1;
    * the diversity number a mixture design targets). Integer-exact core:
    * Σn_s² and N² are exact longs (well under 2^53 at any per-source
    * count the BIGINT share math admits), so the two share divisions are
    * the only float ops and the oracle binds bitwise.
    */
  def sourceBalance(docs: DataFrame): DataFrame = {
    val perSource = docs
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy(col("source")).agg(sum(col("n")).as("tokens"))
    val tot = perSource.agg(
      sum(col("tokens")).as("total"),
      sum(col("tokens") * col("tokens")).as("sum_sq"))
    perSource.crossJoin(broadcast(tot))
      .select(col("source"), col("tokens"),
        (col("tokens").cast("double") / col("total").cast("double")).as("share"),
        ((col("total") * col("total")).cast("double") / col("sum_sq").cast("double"))
          .as("effective_sources"))
      .orderBy(col("source"))
  }

  /** Exact corpus heavy hitters: words commanding more than 1/k of all
    * token occurrences. The exact two-stage count IS the at-scale Spark
    * form — map-side partial aggregation means the shuffle carries one
    * row per (partition, word), vocabulary-sized, not corpus-sized; the
    * word-count table is then a bounded artifact consumed twice (total +
    * filter) off one materialization. For key spaces too large to
    * shuffle even once, `functions.MisraGries` is the bounded-memory
    * companion sketch with the superset guarantee spec-asserted.
    */
  def heavyHitters(docs: DataFrame, k: Int = 30): DataFrame = {
    val counts = Par.seed(docs, col("doc_id"))
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val total = counts.agg(sum(col("n")).as("total"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") * k > col("total"))
      .select(col("word"), col("n"), col("total"))
      .orderBy(col("n").desc, col("word"))
  }

  /** Exact phrase search: docs containing the token phrase CONTIGUOUSLY,
    * with the overlapping-occurrence count (every start position counts,
    * so "a b a" occurs twice in "a b a b a" — the suffix-array convention,
    * not the non-overlapping replace() one). Token-boundary exact: a
    * phrase matches only on whole whitespace tokens, never inside a word.
    *
    * Map-only like `searchDocs`: the token array projects once, the match
    * test is a filter over row-local start positions (no explode, no
    * shuffle), and the top-k lowers to TakeOrderedAndProject. At 100 TB
    * this is a scan; the conjunctive presence of all phrase words could
    * pre-prune via `searchDocs`' predicate before the positional test.
    *
    * The start-position sequence is guarded by size >= n — Spark's
    * sequence() counts DOWN when the upper bound is below the lower
    * (sequence(1,0) = [1,0]), which would fabricate out-of-range probes
    * on docs shorter than the phrase.
    */
  def phraseSearch(docs: DataFrame, phrase: Seq[String], k: Int = 20): DataFrame = {
    require(phrase.nonEmpty, "need a non-empty phrase")
    val n = phrase.length
    val projected = docs.select(
      col("doc_id"), col("source"), split(col("text"), " ").as("ws"))
    val matchAt = (i: Column) =>
      phrase.zipWithIndex.map { case (w, j) =>
        element_at(col("ws"), (i + lit(j)).cast("int")) === lit(w)
      }.reduce(_ && _)
    projected
      .select(col("doc_id"), col("source"),
        when(size(col("ws")) >= n,
          size(filter(sequence(lit(1), size(col("ws")) - n + 1), matchAt)))
          .otherwise(lit(0)).cast("long").as("n_hits"))
      .filter(col("n_hits") > 0)
      .orderBy(col("n_hits").desc, col("doc_id"))
      .limit(k)
  }

  /** Cross-source n-gram overlap matrix — the leakage audit BETWEEN corpus
    * sources (the decontamination op audits corpus-vs-benchmark; this one
    * answers "which ingest sources are mirroring each other's content",
    * the first question when a crawl and a curated dump double-count the
    * same pages). For every source pair: the number of distinct word
    * n-grams present in both, plus the gram-set Jaccard.
    *
    * Scale shape: grams md5 to 16-byte keys map-side and collapse to
    * DISTINCT (source, gh) — the only corpus-sized shuffle, with partial
    * aggregation. The self-join then runs on the collapsed gram-key table
    * (≤ #sources rows per gh, so Σ df² is bounded by #sources × table
    * size — no skew blow-up), and the output is ≤ C(#sources, 2) rows.
    * The collapsed table localCheckpoints because three consumers (sizes,
    * both join sides) would otherwise each re-derive the corpus scan.
    */
  def sourceOverlap(docs: DataFrame, n: Int = 4): DataFrame = {
    val grams = Par.seed(docs, col("doc_id"))
      .select(col("source"), explode(Curation.ngrams(col("text"), n)).as("g"))
      .select(col("source"), md5(col("g")).as("gh"))
      .distinct()
      .localCheckpoint(true)
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    grams.as("a").join(grams.as("b"),
        col("a.gh") === col("b.gh") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
      .agg(count(lit(1)).as("shared_grams"))
      .join(sizes.select(col("source").as("src_a"), col("n_grams").as("na")), Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("n_grams").as("nb")), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("shared_grams"),
        (col("shared_grams").cast("double") /
          (col("na") + col("nb") - col("shared_grams")).cast("double")).as("jaccard"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Marginal-novelty attribution per source — the companion of
    * `sourceOverlap`: for each source, how many of its distinct word
    * n-grams appear in NO earlier source (sources ordered by name — the
    * deterministic stand-in for ingest order), i.e. the greedy "what does
    * this source add on top of the ones before it" decomposition used to
    * rank ingest priorities. n_novel sums to the corpus's total distinct
    * gram count; novelty_frac = n_novel / n_grams is the source's marginal
    * contribution rate.
    *
    * Scale shape: ONE corpus-sized shuffle (distinct (source, gh) with
    * partial aggregation, gram keys md5'd map-side); first-owner min() and
    * per-source totals are both gram-table-sized aggregations off that
    * one materialization. Sources owning zero novel grams (fully mirrored
    * corpora) keep their row via the left join.
    */
  def sourceNovelty(docs: DataFrame, n: Int = 4): DataFrame = {
    val sg = Par.seed(docs, col("doc_id"))
      .select(col("source"), explode(Curation.ngrams(col("text"), n)).as("g"))
      .select(col("source"), md5(col("g")).as("gh"))
      .distinct()
      .localCheckpoint(true)
    val totals = sg.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    val novel = sg.groupBy(col("gh")).agg(min(col("source")).as("source"))
      .groupBy(col("source")).agg(count(lit(1)).as("n_novel"))
    totals.join(novel, Seq("source"), "left")
      .select(col("source"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("novelty_frac"))
      .orderBy(col("source"))
  }

  /** Per-DOCUMENT n-gram novelty — the doc-granular companion of
    * [[sourceNovelty]] and a standard curation signal: how much of a
    * document's distinct n-gram set appears NOWHERE else in the corpus
    * (df = 1). Low-novelty docs are boilerplate/mirror candidates even
    * when no single near-dup partner crosses a pair threshold (mosaic
    * duplication); high-novelty docs carry the corpus's unique content
    * mass. Docs shorter than n words have no grams and drop out (the
    * `ngrams` contract — mirrored by the oracle's length filter).
    *
    * Scale shape: the one corpus-sized shuffle is the gram-keyed
    * doc-frequency aggregation (map-side combined, same class as the
    * span-dedup gram pass); the join-back is gram-table-sized and the
    * per-doc roll-up is bounded by each doc's own gram count.
    */
  def docNovelty(docs: DataFrame, n: Int = 3): DataFrame = {
    val grams = Par.seed(docs, col("doc_id"))
      .select(col("doc_id"),
        explode(array_distinct(Curation.ngrams(col("text"), n))).as("g"))
      .select(col("doc_id"), md5(col("g")).as("gh"))
      .localCheckpoint(true) // feeds the df aggregation and the join-back
    val df = grams.groupBy(col("gh")).agg(count(lit(1)).as("df"))
    grams.join(df, "gh")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_novel"))
      .withColumn("novelty_frac",
        col("n_novel").cast("double") / col("n_grams").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Disjunctive ranked retrieval by SCALED-INTEGER tf-idf: docs matching
    * ANY query term, scored Σ_t tf_t · ((SCALE·N) div df_t) — the idf
    * weight as an integer quotient, so rarer terms dominate exactly as in
    * real tf-idf but every score is a BIGINT both engines agree on
    * bit-for-bit (the `targetRelevance` integer-exact precedent; real
    * log-idf BM25 is `bm25Search` below, spec-asserted rather than
    * oracle-hashed because last-ulp log() differences are engine-local).
    *
    * Scale shape: per-term tf columns project once off the scan (map-only,
    * like `searchDocs`); N and the per-term dfs come from ONE aggregation
    * over those projected columns, broadcast back as a single row; scoring
    * is then scalar math and the top-k lowers to TakeOrderedAndProject.
    * The doc scan runs twice (stats + scoring) — both passes map-only and
    * column-pruned, the at-scale alternative to materializing a
    * corpus-sized checkpoint.
    */
  def tfidfSearch(docs: DataFrame, terms: Seq[String], k: Int = 20,
      scale: Long = 1000000L): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    val words = split(col("text"), " ")
    val tfNames = terms.indices.map(i => s"_tf$i")
    val projected = docs.select(
      col("doc_id") +: col("source") +:
        terms.zip(tfNames).map { case (t, nm) =>
          size(filter(words, w => w === t)).cast("long").as(nm)
        }: _*)
    val stats = projected.agg(
      count(lit(1)).as("n_docs"),
      tfNames.map(nm =>
        sum(when(col(nm) > 0, 1L).otherwise(0L)).as(s"df$nm")): _*)
    val score = tfNames.map(nm =>
      col(nm) * expr(s"(($scale * n_docs) DIV greatest(df$nm, 1))")).reduce(_ + _)
    projected.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("source"), score.as("score"))
      .filter(col("score") > 0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid lexical + dense retrieval with reciprocal-rank fusion (RRF —
    * Cormack et al. 2009; the Elasticsearch/Vespa hybrid default): the
    * integer-exact [[tfidfSearch]] arm and the cosine-kNN arm
    * ([[Similarity.knnCosine]]) each produce a top-`nPerArm` ranking, and
    * the fused score is Σ_arms ⌊10¹² / (rrfK + rank)⌋ in LONG arithmetic —
    * floor of an integer division, exact in any engine, which is what
    * makes the fused ranking hash-oracle-able end to end (the textbook
    * float Σ 1/(k+r) would depend on summation and division rounding). A
    * doc absent from an arm contributes nothing there (its arm rank stays
    * NULL in the output — the audit trail of WHY a doc ranked).
    *
    * Scale shape: each arm is its already-shipped top-k plan (map-only
    * scoring + TakeOrderedAndProject); rank assignment happens POST-limit
    * on ≤ nPerArm rows, so the single-partition window is bounded, not
    * corpus-sized; the fusion join is tiny × tiny.
    */
  def hybridSearch(docs: DataFrame, embeddings: DataFrame,
      terms: Seq[String], queryId: Long = 0L, nPerArm: Int = 20,
      k: Int = 10, rrfK: Long = 60L): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val lex = tfidfSearch(docs, terms, nPerArm)
      .withColumn("lex_rank", row_number().over(
        w.orderBy(col("score").desc, col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("lex_rank"))
    val dense = Similarity.knnCosine(embeddings, queryId, nPerArm)
      .withColumn("vec_rank", row_number().over(
        w.orderBy(col("cos_sim").desc, col("vec_id"))).cast("long"))
      .select(col("vec_id").as("doc_id"), col("vec_rank"))
    lex.join(dense, Seq("doc_id"), "full_outer")
      .withColumn("rrf_score",
        coalesce(expr(s"1000000000000 DIV ($rrfK + lex_rank)"), lit(0L)) +
          coalesce(expr(s"1000000000000 DIV ($rrfK + vec_rank)"), lit(0L)))
      .orderBy(col("rrf_score").desc, col("doc_id"))
      .limit(k)
      .select(col("doc_id"), col("lex_rank"), col("vec_rank"), col("rrf_score"))
  }

  /** Okapi BM25 ranked retrieval — the real log-idf form with length
    * normalization (k1/b defaults from the literature). Same two-pass
    * map-only shape as `tfidfSearch`, plus the corpus average doc length
    * in the broadcast stats row. Scores are doubles built from log();
    * correctness is pinned by `ScalePatternsSpec`-style asserts in
    * `TextSearchSpec` (hand-computed fixture scores, tf/idf monotonicity)
    * rather than the cross-engine hash oracle, which integer-exact
    * `tfidfSearch` covers for the ranking family.
    */
  def bm25Search(docs: DataFrame, terms: Seq[String], k: Int = 20,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "need at least one term")
    val words = split(col("text"), " ")
    val tfNames = terms.indices.map(i => s"_tf$i")
    val projected = docs.select(
      col("doc_id") +: col("source") +: size(words).cast("long").as("dl") +:
        terms.zip(tfNames).map { case (t, nm) =>
          size(filter(words, w => w === t)).cast("long").as(nm)
        }: _*)
    val statCols = avg(col("dl")).as("avgdl") +:
      tfNames.map(nm =>
        sum(when(col(nm) > 0, 1L).otherwise(0L)).as(s"df$nm"))
    val stats = projected.agg(count(lit(1)).as("n_docs"), statCols: _*)
    projected.crossJoin(broadcast(stats))
      .select(col("doc_id"), col("source"), bm25ScoreExpr(tfNames, k1, b).as("score"))
      .filter(col("score") > 0.0)
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** The Okapi BM25 score tree over columns (_tfI, dl, n_docs, df_tfI,
    * avgdl) — BM25+-free classic form, idf = ln((N − df + 0.5)/(df + 0.5)
    * + 1). SHARED between the corpus-scan path (`bm25Search`) and the
    * index-served path (`text.InvertedIndex.bm25`): one expression tree
    * means both run the identical IEEE ops in the identical order, which
    * is what lets the spec assert bitwise equality between them.
    */
  private[graft] def bm25ScoreExpr(tfNames: Seq[String], k1: Double, b: Double): Column =
    tfNames.map { nm =>
      val tf = col(nm).cast("double")
      val idf = log(
        (col("n_docs") - col(s"df$nm") + 0.5) / (col(s"df$nm") + 0.5) + 1.0)
      idf * (tf * (k1 + 1.0)) /
        (tf + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl").cast("double") / col("avgdl")))
    }.reduce(_ + _)

  /** Per-source corpus data card — the audit table a dataset release
    * ships (datasheet / data-statement style): volume (docs, whitespace
    * tokens, chars), language mix, and the exact-duplicate rate, all from
    * ONE aggregation over one scan. `count_distinct(md5(text))` is the
    * only memory-heavy term and is two-phase (partial distinct per map
    * task on the hash, not the text); everything else is a plain
    * map-side-combined sum. The shuffle key space is the source list —
    * bounded — so this stays one wide stage at any corpus size.
    */
  /** PMI-ranked bigram collocations (Church & Hanks 1990 — the association
    * mining behind tokenizer-vocab curation and multi-word-expression
    * detection): the top-k adjacent word pairs whose joint frequency most
    * exceeds chance under the bigram distribution's own marginals,
    * p(x,y)/(p(x)·p(y)) with p(x) = the LEFT-position marginal and p(y)
    * the RIGHT-position marginal, so the whole statistic derives from ONE
    * bigram count table and the corpus is touched exactly once.
    *
    * Determinism: log is monotone, so ranking by the RATIO ranks by PMI —
    * and the ratio ships as the integer `pmi_ratio_ppm` =
    * ⌊c_xy·N·10⁶ / (c_x·c_y)⌋, pure Long arithmetic (floor division of
    * non-negative longs — identical in any engine; no transcendental in
    * the hash surface). A one-pass fail-loud guard bounds
    * max(c_xy)·N·10⁶ against Long range (the `Pca.covarianceMicro`
    * posture); past it, the same plan runs in DECIMAL(38,0).
    *
    * Scale shape: map-only bigram explode → ONE map-side-combined count
    * keyed on the bigram (keyspace ≤ vocab², bounded); marginals re-
    * aggregate the COUNTED table (vocab-sized, never the corpus) and join
    * back broadcast; top-k lowers to TakeOrderedAndProject. min-count
    * floor 5 (the collocation-literature default) kills the long tail of
    * noise pairs before ranking.
    */
  def collocations(docs: DataFrame, minCount: Long = 5L, topK: Int = 50): DataFrame = {
    val w = split(col("text"), " ")
    val bigrams = docs
      .filter(size(w) >= 2)
      .select(explode(zip_with(
        slice(w, lit(1), size(w) - 1), slice(w, lit(2), size(w) - 1),
        (a, b) => struct(a.as("x"), b.as("y")))).as("bg"))
      .select(col("bg.x").as("x"), col("bg.y").as("y"))
    // The counted table feeds four consumers (total, guard, both marginals,
    // the final join) — localCheckpoint stages the ONE corpus-sized pass so
    // everything downstream reruns over the vocab²-bounded materialization
    // (the q21_waiting_suppliers multi-consumer precedent).
    val counts = bigrams.groupBy(col("x"), col("y")).agg(count(lit(1)).as("c_xy"))
      .localCheckpoint()
    val totRow = counts.agg(sum(col("c_xy")), max(col("c_xy"))).collect()(0)
    val (n, maxC) =
      if (totRow.isNullAt(0)) (0L, 0L) else (totRow.getLong(0), totRow.getLong(1))
    require(n == 0L || maxC <= Long.MaxValue / 1000000L / n,
      s"pmi_ratio_ppm would overflow Long (N=$n, max c_xy=$maxC); rerun in DECIMAL(38,0)")
    val left = counts.groupBy(col("x")).agg(sum(col("c_xy")).as("c_x"))
    val right = counts.groupBy(col("y")).agg(sum(col("c_xy")).as("c_y"))
    // The DENOMINATOR needs its own bound: the numerator guard alone
    // admits two hot marginals whose product c_x·c_y wraps a Long
    // silently (non-ANSI multiply) while DuckDB raises — a silent
    // mis-ranking AND an engine divergence. Both marginal maxima come
    // from the vocab-bounded tables — driver-cheap.
    if (n > 0L) {
      val maxCx = left.agg(max(col("c_x"))).collect()(0).getLong(0)
      val maxCy = right.agg(max(col("c_y"))).collect()(0).getLong(0)
      require(maxCx <= Long.MaxValue / math.max(maxCy, 1L),
        s"marginal product would overflow Long (max c_x=$maxCx, max c_y=$maxCy); rerun in DECIMAL(38,0)")
    }
    counts
      .join(broadcast(left), "x").join(broadcast(right), "y")
      .filter(col("c_xy") >= minCount)
      .withColumn("num", col("c_xy") * lit(n) * lit(1000000L))
      .withColumn("den", col("c_x") * col("c_y"))
      .withColumn("pmi_ratio_ppm", expr("num DIV den"))
      .select(concat_ws(" ", col("x"), col("y")).as("bigram"),
        col("c_xy"), col("c_x"), col("c_y"), col("pmi_ratio_ppm"))
      .orderBy(col("pmi_ratio_ppm").desc, col("bigram"))
      .limit(topK)
  }

  def corpusCard(docs: DataFrame): DataFrame =
    docs.select(col("source"), col("lang"), md5(col("text")).as("th"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        countDistinct(col("th")).as("n_distinct_texts"))
      .withColumn("n_dup_docs", col("n_docs") - col("n_distinct_texts"))
      .withColumn("dup_frac",
        col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        col("n_langs"), col("n_distinct_texts"), col("n_dup_docs"), col("dup_frac"))
      .orderBy(col("source"))
}
