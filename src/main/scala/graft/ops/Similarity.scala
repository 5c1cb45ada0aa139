package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions._

/** Similarity search over an embedding column (SURVEY.md §3.1 + the scale
  * extensions). The reference's search path is: embed query → per-day FAISS
  * flat-L2 scan → per-index top-k → global merge (`faiss_manager.py:254-296`).
  * In Spark that whole pipeline is `withColumn(dist) → orderBy(dist).limit(k)`
  * — the per-partition partial top-k + global merge IS
  * TakeOrderedAndProjectExec, so the FAISS merge invariant holds by
  * construction.
  *
  * Scale path for 100 TB: brute force is O(n·d) per query; `ivfSearch`
  * prunes to a fixed number of coarse cells (classic IVF-Flat), turning the
  * scan into a partition-prunable predicate on the assigned cell id. At
  * cluster scale the cell assignment would be a write-time bucketing column,
  * so a query touches |probed cells| / |cells| of the data.
  */
object Similarity {

  private def queryVec(embeddings: DataFrame, queryId: Long): DataFrame =
    embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_embedding"))

  /** Exact kNN by squared L2, FAISS-parity output shape: rank + verbatim
    * `1 - d/2` similarity (R12/R13, `utils.py:100-108`).
    */
  def knnL2(embeddings: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame = {
    val withDist = embeddings
      .crossJoin(broadcast(queryVec(embeddings, queryId)))
      .withColumn("d2", l2Sq(col("embedding"), col("q_embedding")))
    withDist
      .orderBy(col("d2"), col("vec_id"))
      .limit(k)
      .withColumn("rank", row_number().over(Window.orderBy(col("d2"), col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("label"),
        col("d2").as("dist_sq"),
        faissSimilarity(col("d2")).as("similarity"))
  }

  /** Per-dimension embedding QA: min/max/non-zero count for every
    * coordinate — the dead-dimension and range audit an embedding corpus
    * runs before index build (a constant or all-zero dimension wastes
    * index bytes and, for prefix-dim search, candidate quality). One
    * posexplode + dim-keyed aggregation (key space = d, never corpus-
    * proportional); extremes of floats widen exactly to double, so the
    * oracle binds bitwise with no float-sum hazard (means are deliberately
    * absent — cross-engine float accumulation is order-dependent).
    */
  def dimExtent(embeddings: DataFrame): DataFrame =
    embeddings
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(min(col("v")).cast("double").as("min_v"),
        max(col("v")).cast("double").as("max_v"),
        sum(when(col("v") =!= 0.0f, 1L).otherwise(0L)).as("n_nonzero"),
        count(lit(1)).as("n"))
      .orderBy(col("dim"))

  /** Two-stage prefix-dimension search: candidates by squared L2 over the
    * first `dims` dimensions, exact re-rank of those m candidates over the
    * full vector — the truncated-embedding funnel (Matryoshka
    * representation learning, Kusupati et al. 2022: prefix dims carry a
    * coarse-to-fine embedding; classic dimension-reduced candidate
    * generation otherwise). At scale the prefix would persist as its own
    * column, so stage 1's scan reads dims/d of the vector bytes (parquet
    * column pruning) and stage 2 touches only m rows — the same
    * candidates-then-refine economics as IVF-PQ, but with zero training
    * and an EXACT re-rank stage. Both stages lower to
    * TakeOrderedAndProject; the whole query is two bounded top-ks.
    */
  def prefixRerankKnn(embeddings: DataFrame, queryId: Long = 0L, dims: Int = 16,
      m: Int = 50, k: Int = 10): DataFrame = {
    require(dims >= 1, "need at least one prefix dimension")
    require(m >= k, "candidate count must cover the result count")
    val cand = embeddings
      .crossJoin(broadcast(queryVec(embeddings, queryId)))
      .withColumn("pd2",
        l2Sq(slice(col("embedding"), 1, dims), slice(col("q_embedding"), 1, dims)))
      .orderBy(col("pd2"), col("vec_id"))
      .limit(m)
    cand
      .withColumn("d2", l2Sq(col("embedding"), col("q_embedding")))
      .orderBy(col("d2"), col("vec_id"))
      .limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("d2"), col("vec_id"))).cast("long"))
      .select(col("rank"), col("vec_id"), col("label"),
        col("pd2").as("prefix_dist_sq"), col("d2").as("dist_sq"))
  }

  /** Exact top-k by cosine similarity (embedding near-dup / semantic search
    * baseline).
    */
  def knnCosine(embeddings: DataFrame, queryId: Long = 0L, k: Int = 10): DataFrame =
    embeddings
      .crossJoin(broadcast(queryVec(embeddings, queryId)))
      .withColumn("cos", cosine(col("embedding"), col("q_embedding")))
      .orderBy(col("cos").desc, col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cos").as("cos_sim"))

  /** Exact range search: every corpus vector within squared-L2 `radiusSq`
    * of the query (the "all neighbors within r" dual of top-k — radius
    * dedup, recall sweeps, near-duplicate audits). Map-only: one codegen'd
    * distance + filter over one scan, no shuffle, no sort — already the
    * 100-TB shape for a full-accuracy pass; `IvfIndex.rangeSearch` is the
    * partition-pruned physical twin (triangle-inequality cell bound).
    */
  def rangeSearch(embeddings: DataFrame, queryId: Long = 0L,
      radiusSq: Double = 1.45): DataFrame =
    embeddings
      .crossJoin(broadcast(queryVec(embeddings, queryId)))
      .withColumn("d2", l2Sq(col("embedding"), col("q_embedding")))
      .filter(col("d2") <= radiusSq && col("vec_id") =!= queryId)
      .select(col("vec_id"), col("label"), col("d2").as("dist_sq"))
      .orderBy(col("vec_id"))

  /** IVF-Flat approximate kNN: vectors are assigned to their nearest of
    * `nCells` deterministic seed centroids (the first `nCells` vectors by
    * id); a query probes its `nProbe` nearest cells and scans only those.
    * At scale the assignment is a bucketing/partition column, making the
    * probe a partition-pruned scan instead of a full pass.
    */
  def ivfSearch(embeddings: DataFrame, queryId: Long = 0L, k: Int = 10,
      nCells: Int = 8, nProbe: Int = 2): DataFrame = {
    // Centroids collected once (nCells × dim, constant size): assignment is
    // a map-only argmin over the driver-collected matrix — same tie-break
    // (distance, cid) as the crossJoin + per-vector window it replaces, at
    // none of the shuffle cost. Expression-shape history: the r10 form was
    // nCells separate l2Sq-literal subtrees under array_sort (codegen'd —
    // measured 25× FASTER than array_min, whose CodegenFallback dragged
    // every interpreted l2Sq closure with it); r13 replaced the whole tree
    // with ONE FloatVecNearestCells node (matrix as object state, eval a
    // compiled primitive loop — no per-element closures, so the r10
    // fallback pitfall doesn't apply) after the 100×-resident probe
    // measured Catalyst PLANNING over the ~780-literal tree as the vector
    // gate's dominant growth term. Bitwise-equal results,
    // SimilaritySpec-pinned, ties included.
    val cents = embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
    val nearestCell = graft.functions.VectorFunctions.nearestCellCid(
      col("embedding"), cents.map { case (c, v) => (c.toLong, v) }.toSeq)
    val assigned = embeddings
      .select(col("vec_id"), col("label"), col("embedding"), nearestCell.as("cid"))
    val q = queryVec(embeddings, queryId)
    // Probe selection is driver-side math over the same collected array.
    val qv = embeddings.filter(col("vec_id") === queryId)
      .select(col("embedding")).head.getSeq[Float](0)
    def l2(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).map { case (x, y) => (x.toDouble - y.toDouble) * (x.toDouble - y.toDouble) }.sum
    val probed = cents.map { case (cid, c) => (l2(c, qv), cid.toLong) }
      .sorted.take(nProbe).map(_._2)
    assigned
      .filter(col("cid").isin(probed: _*))
      .crossJoin(broadcast(q))
      .withColumn("d2", l2Sq(col("embedding"), col("q_embedding")))
      .orderBy(col("d2"), col("vec_id"))
      .limit(k)
      .select(col("vec_id"), col("label"), col("cid"), col("d2").as("dist_sq"))
  }

  /** Recall@k curve of the IVF probe trade — "measure, don't guess" as an
    * operator: for every probe budget in `probes`, the mean fraction of
    * the TRUE top-k (brute force) that the probe-pruned search returns,
    * over a deterministic query set. The at-scale knob every ANN
    * deployment tunes, evaluated distributed and (because every stage —
    * assignment argmin, probe ranking, both top-k cuts, the intersection
    * count — is engine-portable arithmetic with (d2, id) tie-breaks)
    * hash-oracle-bound cross-engine. The probe-all row pins recall = 1.0
    * exactly: candidacy is total, so the two top-k sets coincide.
    *
    * Scale shape: ONE corpus assignment pass (literal-centroid argmin,
    * map-only); the brute arm is queries × corpus through the bounded
    * native top-k aggregate; the probed arm reuses one candidate join for
    * ALL budgets (a probe-rank column filtered per budget, not a re-scan);
    * everything downstream is |queries|·k-sized.
    */
  def ivfRecallCurve(embeddings: DataFrame, probes: Seq[Int] = Seq(1, 2, 4, 8),
      k: Int = 10, nCells: Int = 8, qLo: Long = 10L, qHi: Long = 18L): DataFrame = {
    import graft.functions.TopKAggregator
    val cents = embeddings.filter(col("vec_id") < nCells)
      .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
    val centsL = cents.map { case (c, v) => (c.toLong, v) }.toSeq
    val nearestCell = graft.functions.VectorFunctions.nearestCellCid(
      col("embedding"), centsL)
    val assigned = embeddings
      .select(col("vec_id"), col("embedding"), nearestCell.as("cid"))
    val queries = embeddings.filter(col("vec_id") >= qLo && col("vec_id") < qHi)
      .select(col("vec_id").as("qid"), col("embedding").as("q_emb"))
    val nQ = queries.count()
    require(nQ > 0, "empty query window")
    val brute = queries
      .crossJoin(assigned.select(col("vec_id"), col("embedding")))
      .withColumn("d2", l2Sq(col("q_emb"), col("embedding")))
      .groupBy(col("qid"))
      .agg(TopKAggregator.topK(k, -col("d2"), col("vec_id")).as("top"))
      .select(col("qid"), explode(col("top.id")).as("vec_id"))
    // probe rank of every cell per query (0-based): one map-only explode
    // of the sorted literal-centroid distances — shared by all budgets
    val orderedCids = graft.functions.VectorFunctions.orderedCellCids(
      col("q_emb"), centsL, centsL.length)
    val cand = queries
      .select(col("qid"), col("q_emb"), posexplode(orderedCids).as(Seq("pr", "cid")))
      .join(assigned, Seq("cid"))
      .withColumn("d2", l2Sq(col("q_emb"), col("embedding")))
      .select(col("qid"), col("pr"), col("vec_id"), col("d2"))
      .localCheckpoint(true) // one candidate join feeds every probe budget
    val perBudget = probes.map { p =>
      cand.filter(col("pr") < p)
        .groupBy(col("qid"))
        .agg(TopKAggregator.topK(k, -col("d2"), col("vec_id")).as("top"))
        .select(lit(p).cast("long").as("n_probe"), col("qid"),
          explode(col("top.id")).as("vec_id"))
    }.reduce(_ unionByName _)
    perBudget.join(brute, Seq("qid", "vec_id"))
      .groupBy(col("n_probe"))
      .agg(count(lit(1)).as("hits"))
      .select(col("n_probe"), lit(nQ).as("n_queries"), col("hits"),
        (col("hits").cast("double") / lit((k * nQ).toDouble)).as("recall"))
      .orderBy(col("n_probe"))
  }

  /** Batch kNN join (VERDICT r2 #2: "the single biggest capability the
    * engine still lacks"): top-k nearest corpus vectors FOR EACH ROW of a
    * query DataFrame — the similarity-search stage of a training-data
    * pipeline, where "the query" is itself a table of millions of rows and
    * per-query loops are not a plan.
    *
    * Shape: IVF-cell blocking. Corpus vectors are map-only-assigned to
    * their single nearest of `nCells` coarse cells (literal-centroid argmin
    * — no shuffle); query vectors are multi-probe-assigned to their
    * `nProbe` nearest cells (same map-only pattern, ×nProbe fan-out); one
    * equi-join on the cell id generates candidates (the ONLY shuffle,
    * keyed by cell — never a crossJoin); the per-query top-k is the
    * bounded Catalyst-native `TopKByValueAgg` (value = −d², so the order is
    * (d² asc, corpus id asc) — identical tie-breaking to the brute-force
    * window), with map-side partial aggregation so at most k candidates
    * per (partition, query) reach the final shuffle.
    *
    * A (query, corpus) pair can never duplicate: each corpus vector lives
    * in exactly one cell. At 100 TB the corpus side is the write-time
    * `IvfIndex` layout and the join co-locates with it.
    *
    * Recall contract: exact iff each query's true top-k lives within its
    * nProbe probed cells — `SimilaritySpec` asserts blocked ≡ brute force
    * on this generator's geometry (verified at every shipped SF; the same
    * data-dependence note as `vec_dup_pairs` applies).
    */
  def knnJoin(queries: DataFrame, corpus: DataFrame, k: Int = 10,
      nCells: Int = 0, nProbe: Int = 0): DataFrame = {
    // nCells = 0 → one cell per ~256 corpus rows ([[autoCells]]): per-query
    // candidate volume stays constant as the corpus grows; nProbe = 0 →
    // √cells probes ([[autoProbe]]) so recall doesn't cliff with growth
    val cells = if (nCells > 0) nCells else autoCells(memoCount(corpus))
    val probes = if (nProbe > 0) nProbe else autoProbe(cells)
    val cents = corpus.filter(col("vec_id") < cells)
      .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
    val centsL = cents.map { case (cc, v) => (cc.toLong, v) }.toSeq
    // (distance, cid) order — the same deterministic assignment as
    // ivfSearch/IvfIndex, one constant-size FloatVecNearestCells node.
    val c = corpus.select(col("vec_id").as("c_vec_id"), col("embedding").as("c_emb"),
      graft.functions.VectorFunctions.nearestCellCid(col("embedding"), centsL).as("cell"))
    val q = queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
      explode(graft.functions.VectorFunctions.orderedCellCids(
        col("embedding"), centsL, probes)).as("cell"))
    q.join(c, "cell")
      .withColumn("d2", l2Sq(col("q_emb"), col("c_emb")))
      .groupBy(col("q_vec_id"))
      .agg(graft.functions.TopKAggregator.topK(k, -col("d2"), col("c_vec_id")).as("top"))
      .select(col("q_vec_id"), posexplode(col("top")))
      .select(col("q_vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("c_vec_id"), (-col("col.value")).as("dist_sq"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  /** Block count for the IVF-cell corpus self-joins, sized to the corpus:
    * one cell per ~`targetRowsPerCell` rows, so per-query candidate volume
    * (nProbe · n/cells) stays CONSTANT as the corpus grows and total
    * candidate volume grows linearly — the round-8 scale probe measured
    * the fixed-cell alternative super-linear (occupancy ×10 ⇒ within-cell
    * candidates ×100). Floor 8 keeps tiny corpora on the historical cell
    * count (the registered SFs resolve to exactly 8, so oracle outputs are
    * unchanged); the cap bounds the literal-centroid plan form — the
    * driver collect and the in-plan argmin array are linear in the cell
    * count, and past ~10³ centroids the assignment belongs in a broadcast
    * join (the `NgramLm` large-model precedent), which `IvfIndex` provides
    * as the physical-index path. 256 is a power of two, so the matching
    * SQL `CEIL(COUNT(*) / 256.0)` divides exactly and both engines agree
    * bit-for-bit.
    */
  def autoCells(n: Long, targetRowsPerCell: Long = 256L, floorCells: Int = 8,
      cap: Int = 1024): Int =
    math.min(cap.toLong, math.max(floorCells.toLong,
      (n + targetRowsPerCell - 1) / targetRowsPerCell)).toInt

  /** Probe budget matched to the cell count (the FAISS `nprobe ≈ √nlist`
    * heuristic): with [[autoCells]] the cell count grows linearly in the
    * corpus, so a FIXED probe budget silently shrinks the probed fraction
    * (4/8 = 50% at the floor toward 4/1024 = 0.4% at the cap) and
    * kNN-style recall (hard negatives, label audits) would degrade as the
    * corpus grows. √cells keeps per-query candidate volume growing only
    * as √n·targetRowsPerCell while the probed fraction falls as 1/√n —
    * the standard speed/recall middle. Floor 4 preserves the historical
    * output at the 8-cell floor (the shipped sf0.01 fixtures). Every
    * oracle that replays a blocked plan mirrors this as
    * `GREATEST(4, CEIL(SQRT(n_cells)))` — IEEE sqrt is correctly rounded,
    * so perfect squares agree bit-for-bit across engines. The autoCells
    * 1024-cell cap bounds this at 32 probes — the implicit probe cap: a
    * corpus past the cap probes ≤ 32/1024 ≈ 3% of cells, never more
    * work per query than the cap-sized corpus. NOTE the composition with
    * an ALL-CORPUS self-join (every row queries): total candidate volume
    * grows ~n^1.5 below the cap — see [[hardNegatives]]' scale note;
    * bounded-anchor registration ([[anchorSample]]) is the production
    * shape there.
    */
  def autoProbe(cells: Int, floorProbe: Int = 4): Int =
    math.max(floorProbe, math.ceil(math.sqrt(cells.toDouble)).toInt)

  // Corpus counts memoized per canonicalized logical plan (weak keys —
  // entries die with their plan): the blocked family resolves autoCells
  // at plan-construction time, and re-running the count job per operator
  // call was the round-8 eager-jobs note. Scope is per-INSTANCE reuse
  // (stack several blocked operators over one held DataFrame and only
  // the first pays the count): canonicalization normalizes expression
  // ids, but two separate file reads carry distinct HadoopFsRelation
  // objects (no structural equality in the engine), so re-derived reads
  // of the same path deliberately key apart — a hit is therefore always
  // sound, and a count against a mutated path can't go stale through a
  // fresh read.
  private val countCache = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, java.lang.Long]())
  private[graft] def memoCount(df: DataFrame): Long = {
    val key = df.queryExecution.analyzed.canonicalized
    val hit = countCache.get(key)
    if (hit != null) hit.longValue()
    else { val n = df.count(); countCache.put(key, n); n }
  }

  /** Deterministic bounded anchor sample for the kNN-mining family: the
    * `n` lowest hash-draw vectors (`Sampling.hashDraw` of the stable id,
    * vec_id tie-break) — reproducible, stable under corpus growth up to
    * draw collisions, engine-portable (the `doc_sample` rule). Production
    * mining runs over a TRAINING BATCH of anchors, never the corpus:
    * registering the mining queries over this sample keeps their cost
    * O(anchors · √cells · occupancy) — flat in corpus size per anchor —
    * where the full self-join forms grow ~n^1.5 under [[autoProbe]].
    * Lowers to TakeOrderedAndProject (bounded partial top-n per
    * partition), never a global sort.
    */
  def anchorSample(embeddings: DataFrame, n: Int = 256): DataFrame =
    embeddings.orderBy(Sampling.hashDraw(col("vec_id")), col("vec_id")).limit(n)

  /** Hard-negative mining for contrastive training (the DPR/SimCLR data-prep
    * op): for every vector, the k nearest corpus vectors carrying a
    * DIFFERENT label — semantically close but known-not-matching, the
    * examples a contrastive loss learns most from. Same IVF-cell blocked
    * shape as `knnJoinSalted` (self-join of the corpus on (cell, salt) —
    * the ONLY shuffle; never a crossJoin; hot cells split so no task sees
    * more than ~maxCellRows corpus rows), with the label-inequality
    * predicate applied on the joined candidates BEFORE the bounded top-k,
    * so same-label candidates never occupy top-k slots. Self-pairs are
    * excluded for free (a vector shares its own label). The neighbor's
    * label is re-joined by id after the top-k (an equi-join keyed on
    * vec_id — k·n result rows against the corpus id/label projection; AQE
    * broadcasts the small side at low SF, and at 100 TB both sides are
    * id-bucketed). Recall contract is
    * `knnJoin`'s: exact iff each vector's true top-k different-label
    * neighbors live in its nProbe probed cells — `SimilaritySpec` asserts
    * probe-all ≡ brute force; the registered oracle mirrors the blocked
    * plan itself, so the hash check is recall-independent.
    *
    * SCALE SHAPE of this all-anchors self-join form: under the
    * [[autoCells]]/[[autoProbe]] defaults, candidate volume is
    * n · √cells · occupancy ≈ n^1.5·16 — deliberately super-linear (the
    * price of recall that doesn't cliff with growth; a fixed probe budget
    * silently probes an ever-smaller corpus fraction). Tasks stay bounded
    * (salting) but TOTAL work grows ~n^1.5, so the production shape is
    * [[hardNegativesFor]] over a bounded [[anchorSample]] — a training
    * batch is 10³–10⁶ anchors, never the corpus — which the registered
    * `vec_hard_negatives` query uses. This full form stays the spec-level
    * exactness pin.
    *
    * `nCells = 0` (the default) auto-scales the block count to the corpus
    * via [[autoCells]] — the round-8 scale probe showed the fixed 8-cell
    * config going ~10.6× at 10× data (cell occupancy ×10 ⇒ within-cell
    * candidates ×100); with occupancy held at ~256 rows/cell the candidate
    * volume grows linearly in the corpus. `nProbe = 0` (the default)
    * matches the probe budget to that growth via [[autoProbe]] — a fixed
    * budget would silently shrink the probed fraction (and kNN recall) as
    * the cell count scales. Resolving the count reads ONE corpus count at
    * plan-construction time, memoized per logical plan across the blocked
    * family (this function is already eager: it collects the centroids
    * and the salt map).
    */
  def hardNegatives(embeddings: DataFrame, k: Int = 5,
      nCells: Int = 0, nProbe: Int = 0, maxCellRows: Long = 1000000L): DataFrame =
    hardNegativesFor(embeddings, embeddings, k, nCells, nProbe, maxCellRows)

  /** [[hardNegatives]] generalized to a bounded ANCHOR table (the
    * production mining shape — anchors are a training batch, the corpus is
    * the candidate pool). Anchors need (vec_id, label, embedding) and may
    * be any subset of — or disjoint from — the corpus; self-pairs are
    * excluded by label equality exactly as in the self form. Cells, salt
    * map, and neighbor labels all come from the CORPUS side; only the
    * probe fan-out is anchor-sized, so the candidate volume is
    * |anchors| · nProbe · occupancy — flat in corpus size per anchor
    * (probe count grows √cells, occupancy is pinned at ~256).
    */
  def hardNegativesFor(anchors: DataFrame, corpus: DataFrame, k: Int = 5,
      nCells: Int = 0, nProbe: Int = 0, maxCellRows: Long = 1000000L): DataFrame = {
    val cells = if (nCells > 0) nCells else autoCells(memoCount(corpus))
    val probes = if (nProbe > 0) nProbe else autoProbe(cells)
    val sortedCells = seedProbeExpr(corpus, cells)
    val assigned = corpus.select(col("vec_id").as("c_vec_id"), col("embedding").as("c_emb"),
      col("label").as("c_label"), element_at(sortedCells, 1).cast("long").as("cell"))
    hardNegativesOn(anchors, assigned, sortedCells, probes, k, maxCellRows)
  }

  /** The (distance, cid)-sorted probe-list expression against the SEED
    * centroids (`vec_id < cells`) — the literal-centroid driver artifact
    * every blocked operator shares, factored so layout-backed forms can
    * swap in sidecar centroids (`IvfIndex.probeCells`) without touching
    * the mining pipelines.
    */
  private def seedProbeExpr(corpus: DataFrame, cells: Int): org.apache.spark.sql.Column = {
    val cents = corpus.filter(col("vec_id") < cells)
      .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      .collect().map(r => (r.getInt(0).toLong, r.getSeq[Float](1)))
    graft.functions.VectorFunctions.orderedCellCids(col("embedding"), cents.toSeq, cents.length)
  }

  /** [[hardNegativesFor]]'s pipeline over a PRE-ASSIGNED corpus — the core
    * shared with the layout-backed form ([[graft.vector.IvfIndex.hardNegatives]]),
    * where the `cell` column comes off disk and this never pays the
    * O(n·cells·d) literal-centroid assignment pass. `assigned` needs
    * (c_vec_id, c_emb, c_label, cell); `sortedCells` is the probe
    * expression used on the ANCHOR side only.
    */
  private[graft] def hardNegativesOn(anchors: DataFrame, assigned: DataFrame,
      sortedCells: org.apache.spark.sql.Column, probes: Int, k: Int, maxCellRows: Long): DataFrame = {
    // Hot-cell salting, the knnJoinSalted pattern verbatim: a label-skewed
    // corpus (one dominant class = one dense region) concentrates in few
    // cells; salting bounds every join task at ~maxCellRows corpus rows
    // with an identical candidate set. Per-cell salt counts are an
    // nCells-entry driver map.
    val saltOf: Map[Long, Int] = assigned.groupBy(col("cell")).count()
      .collect().map { r =>
        r.getLong(0) -> math.max(1L, (r.getLong(1) + maxCellRows - 1) / maxCellRows).toInt
      }.toMap
    val saltMap = map(saltOf.toSeq.flatMap { case (cell, s) =>
      Seq(lit(cell), lit(s)) }: _*)
    val c = assigned.withColumn("salt",
      pmod(col("c_vec_id"), element_at(saltMap, col("cell")).cast("long")))
    val q = anchors.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"), explode(slice(sortedCells, 1, probes).cast("array<long>")).as("cell"))
      .withColumn("salt", explode(sequence(lit(0L),
        element_at(saltMap, col("cell")).cast("long") - 1L)))
    // Neighbor labels re-join by id AFTER the top-k; every surviving
    // c_vec_id came from `assigned`, so the label side projects from it
    // (column pruning reduces this to the corpus id/label scan).
    val labels = assigned.select(col("c_vec_id"), col("c_label").as("neg_label"))
    q.join(c, Seq("cell", "salt"))
      .filter(col("q_label") =!= col("c_label"))
      .withColumn("d2", l2Sq(col("q_emb"), col("c_emb")))
      .groupBy(col("q_vec_id"), col("q_label"))
      .agg(graft.functions.TopKAggregator.topK(k, -col("d2"), col("c_vec_id")).as("top"))
      .select(col("q_vec_id"), col("q_label"), posexplode(col("top")))
      .select(col("q_vec_id"), col("q_label"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("c_vec_id"), (-col("col.value")).as("dist_sq"))
      .join(labels, "c_vec_id")
      .select(col("q_vec_id"), col("q_label"), col("rank"),
        col("c_vec_id"), col("neg_label"), col("dist_sq"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  /** Robust per-dimension outlier audit (median/MAD — the Hampel
    * identifier): flags vectors with any coordinate further than
    * `k`·MAD from its dimension's median — corrupted embeddings, encoder
    * NaN-replacements, scale bugs — where mean/stddev gates would let the
    * outliers drag the gate itself. Zero-MAD dimensions (more than half
    * the corpus identical) never flag — the conservative side. The
    * default k = 5 on the RAW MAD is ≈ 3.4σ on a Gaussian dimension
    * (MAD ≈ 0.6745σ) — the classic 3σ-class gate, robustly estimated.
    *
    * Both median passes run through the distributed exact-quantile engine
    * ([[Relational.exactQuantilesDistributed]] — bucket-located order
    * statistics, no per-dim sort), so no task ever holds a dimension's
    * full coordinate list; everything downstream is map-only against the
    * broadcast d-row median/MAD tables. Output: one row per flagged
    * vector — (vec_id, n_flagged_dims, max_ratio).
    */
  def madOutliers(embeddings: DataFrame, k: Double = 5.0): DataFrame = {
    import graft.ops.Relational
    val vals = embeddings
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim").cast("long").as("dim"),
        col("xf").cast("double").as("x"))
      .localCheckpoint(true) // feeds the median pass and the deviation pass
    val med = Relational.exactQuantilesDistributed(vals, "dim", "x", Seq(0.5))
      .select(col("dim"), col("quantile").as("med"))
    val dev = vals.join(broadcast(med), Seq("dim"))
      .select(col("vec_id"), col("dim"), abs(col("x") - col("med")).as("ad"))
      .localCheckpoint(true) // feeds the MAD pass and the flag pass
    val mad = Relational.exactQuantilesDistributed(
        dev.select(col("dim"), col("ad").as("x")), "dim", "x", Seq(0.5))
      .select(col("dim"), col("quantile").as("mad"))
    dev.join(broadcast(mad), Seq("dim"))
      .filter(col("mad") > 0.0 && col("ad") > lit(k) * col("mad"))
      .groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_flagged_dims"),
        max(col("ad") / col("mad")).as("max_ratio"))
      .orderBy(col("vec_id"))
  }

  /** Contrastive TRIPLET mining — the training-pair assembly step of an
    * embedding-model pipeline (FaceNet, Schroff 2015; hard-mining
    * posture): for every anchor, its hardest positive (nearest SAME-label
    * vector, self excluded) and hardest negative (nearest
    * different-label vector), with the triplet margin
    * `neg_d2 − pos_d2` (≤ 0 = the violated triplets a trainer feeds
    * first). Anchors whose label is unique in the corpus have no positive
    * and drop out (inner join — documented contract).
    *
    * Shape: ONE salted IVF-cell-blocked self-join ([[hardNegatives]]'s
    * construction verbatim — adaptive cell count, hot-cell salting)
    * feeds BOTH sides: the label-equality split happens post-join, and
    * each side reduces through the bounded native top-1 aggregate. Same
    * probed-candidacy posture as [[hardNegatives]]: the registered
    * budgeted config is pinned by an oracle that replays the blocked plan
    * (recall-independent), and probe-all ≡ the brute FaceNet definition
    * is the `SimilaritySpec` exactness pin. Recall of a budgeted probe is
    * geometry-dependent — on corpora whose labels are independent of the
    * embedding geometry, the hardest positive routinely sits outside the
    * probed neighborhood; raise nProbe (or probe-all) when the mined
    * positives must be globally hardest rather than neighborhood-hardest.
    *
    * SCALE SHAPE: the all-anchors self-join form is ~n^1.5 under the
    * autoProbe default (the [[hardNegatives]] note verbatim); the
    * production/registered shape is [[tripletMineFor]] over a bounded
    * [[anchorSample]].
    */
  def tripletMine(embeddings: DataFrame, nCells: Int = 0, nProbe: Int = 0,
      maxCellRows: Long = 1000000L): DataFrame =
    tripletMineFor(embeddings, embeddings, nCells, nProbe, maxCellRows)

  /** [[tripletMine]] generalized to a bounded ANCHOR table (the
    * [[hardNegativesFor]] shape): triplets are mined for each anchor row
    * against the corpus candidate pool — cells, salt map, and both arms'
    * candidates come from the corpus; only the probe fan-out is
    * anchor-sized. Anchors sharing ids with corpus rows self-exclude by
    * id exactly as in the self form.
    */
  def tripletMineFor(anchors: DataFrame, corpus: DataFrame,
      nCells: Int = 0, nProbe: Int = 0,
      maxCellRows: Long = 1000000L): DataFrame = {
    val cells = if (nCells > 0) nCells else autoCells(memoCount(corpus))
    val probes = if (nProbe > 0) nProbe else autoProbe(cells)
    val sortedCells = seedProbeExpr(corpus, cells)
    val assigned = corpus.select(col("vec_id").as("c_vec_id"), col("embedding").as("c_emb"),
      col("label").as("c_label"), element_at(sortedCells, 1).cast("long").as("cell"))
    tripletMineOn(anchors, assigned, sortedCells, probes, maxCellRows)
  }

  /** [[tripletMineFor]]'s pipeline over a PRE-ASSIGNED corpus — shared
    * with the layout-backed [[graft.vector.IvfIndex.tripletMine]] (the
    * [[hardNegativesOn]] arrangement).
    */
  private[graft] def tripletMineOn(anchors: DataFrame, assigned: DataFrame,
      sortedCells: org.apache.spark.sql.Column, probes: Int, maxCellRows: Long): DataFrame = {
    val saltOf: Map[Long, Int] = assigned.groupBy(col("cell")).count()
      .collect().map { r =>
        r.getLong(0) -> math.max(1L, (r.getLong(1) + maxCellRows - 1) / maxCellRows).toInt
      }.toMap
    val saltMap = map(saltOf.toSeq.flatMap { case (cell, s) =>
      Seq(lit(cell), lit(s)) }: _*)
    val c = assigned.withColumn("salt",
      pmod(col("c_vec_id"), element_at(saltMap, col("cell")).cast("long")))
    val q = anchors.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
        col("label").as("q_label"), explode(slice(sortedCells, 1, probes).cast("array<long>")).as("cell"))
      .withColumn("salt", explode(sequence(lit(0L),
        element_at(saltMap, col("cell")).cast("long") - 1L)))
    // ONE pass over the candidate join: each arm is a bounded top-1
    // aggregate over the label-masked distance — the aggregator skips
    // null values (its documented contract), so the mask IS the split.
    // No materialization of the n² candidate stream, no second join.
    val same = col("c_label") === col("q_label")
    q.join(c, Seq("cell", "salt"))
      .filter(col("q_vec_id") =!= col("c_vec_id"))
      .withColumn("d2", l2Sq(col("q_emb"), col("c_emb")))
      .groupBy(col("q_vec_id"), col("q_label"))
      .agg(
        graft.functions.TopKAggregator.topK(1, when(same, -col("d2")), col("c_vec_id")).as("p"),
        graft.functions.TopKAggregator.topK(1, when(!same, -col("d2")), col("c_vec_id")).as("n"))
      .filter(size(col("p")) > 0 && size(col("n")) > 0)
      .select(col("q_vec_id").as("anchor_id"), col("q_label").as("label"),
        element_at(col("p.id"), 1).as("pos_id"),
        (-element_at(col("p.value"), 1)).as("pos_d2"),
        element_at(col("n.id"), 1).as("neg_id"),
        (-element_at(col("n.value"), 1)).as("neg_d2"))
      .withColumn("margin", col("neg_d2") - col("pos_d2"))
      .orderBy(col("anchor_id"))
  }

  /** One exact distributed Lloyd (k-means) step — the building block of
    * corpus organization at training-data scale (cluster-balanced
    * sampling, SemDeDup's clustering stage, IVF retraining): assign every
    * vector to its nearest seed centroid (seeds = `vec_id < k`, the
    * `ivfSearch` convention; argmin with cid tie-break — deterministic),
    * then emit each cluster's per-dimension member count and coordinate
    * sum. Cross-engine exactness: coordinates are quantized to fixed-point
    * MICROUNITS via `floor(x·1e6)` — multiply is one correctly-rounded
    * IEEE op and floor is exact, so the quantized values are
    * bit-identical in any engine and the sums are plain long arithmetic
    * (no decimal rounding mode in sight, no float sum order anywhere).
    * The updated centroid coordinate is the single trailing double
    * division `sum_micro / (1e6·n)`; quantization error is ≤ 0.5e-6 per
    * coordinate — irrelevant to clustering geometry, and the production
    * float path (`IvfIndex.train`) remains the serving trainer. Shape:
    * assignment is map-only against literal centroids; the ONLY shuffle
    * is the (cell, dim) roll-up — keyspace k·d, bounded, map-side
    * combined. Iterating = re-calling with the returned centroids.
    */
  def kmeansStep(embeddings: DataFrame, k: Int = 8): DataFrame =
    cellMicroSums(assignSeedCells(embeddings, k)).orderBy(col("cell"), col("dim"))

  /** The exact (cell, dim) roll-up shared by [[kmeansStep]] (seed
    * assignment, the oracle-bound form) and [[kmeansTrain]] (arbitrary
    * round-t centroids). Unsorted — callers that iterate don't pay the
    * presentation sort.
    */
  private def cellMicroSums(assigned: DataFrame): DataFrame =
    assigned
      .select(col("cell"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("cell"), (col("pos") + 1).cast("int").as("dim"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("v_micro"))
      .groupBy(col("cell"), col("dim"))
      .agg(count(lit(1)).as("n_members"), sum(col("v_micro")).as("sum_micro"))
      .withColumn("mean",
        col("sum_micro").cast("double") / (col("n_members").cast("double") * 1000000.0))

  /** Nearest-cell assignment against EXPLICIT centroids (cells indexed by
    * array position): the literal-struct argmin of [[assignSeedCells]],
    * just decoupled from the seed convention so a training loop can feed
    * round-t centroids back in. Map-only, (distance, cid) tie-break.
    */
  def assignCells(embeddings: DataFrame, cents: Array[Array[Float]]): DataFrame =
    embeddings.withColumn("cell", graft.functions.VectorFunctions.nearestCellCid(
      col("embedding"),
      cents.zipWithIndex.map { case (v, cid) => (cid.toLong, v.toSeq) }.toSeq))

  /** One exact Lloyd step against EXPLICIT centroids, presentation-sorted —
    * [[kmeansStep]] generalized past the seed convention; the registered
    * `vec_kmeans_train2` runs this against round-1 trained centroids so the
    * oracle replays a full two-round trajectory in SQL.
    */
  def kmeansStepWith(embeddings: DataFrame, cents: Array[Array[Float]]): DataFrame =
    cellMicroSums(assignCells(embeddings, cents)).orderBy(col("cell"), col("dim"))

  /** Per-round convergence record from [[kmeansTrain]]: squared centroid
    * movement (max over cells and summed) plus how many cells went empty
    * (empty cells keep their previous centroid — the `kmeansCentroids`
    * convention).
    */
  final case class KmeansRound(round: Int, maxMoveSq: Double,
      totalMoveSq: Double, nEmptyCells: Int)

  /** Full Lloyd training loop over [[kmeansStep]]'s exact arithmetic — the
    * driver-loop operator (`Bpe.trainWithStats` precedent): per round,
    * assign against the current centroids (map-only), roll up fixed-point
    * microunit sums (ONE bounded k·d-key shuffle, map-side combined),
    * collect the k·d summary to the driver (a bounded artifact, like
    * centroids everywhere else in this repo), update centroids, and record
    * the movement metric. Deterministic end to end: quantized sums are
    * exact longs, the mean is one double division, the stored coordinate
    * one float rounding — so the whole trajectory is bitwise-reproducible
    * and `SimilaritySpec` pins it against a single-node Lloyd reference.
    *
    * Seeds are the k lowest-vec_id vectors (equals the `vec_id < k` seed
    * convention on dense-id corpora, and well-defined on sparse ids).
    * Returns (final centroids indexed by cell id, per-round movement).
    */
  def kmeansTrain(embeddings: DataFrame, k: Int = 8, rounds: Int = 3,
      tolerance: Double = 0.0): (Array[Array[Float]], Seq[KmeansRound]) = {
    var cents: Array[Array[Float]] = embeddings.orderBy(col("vec_id")).limit(k)
      .select(col("embedding")).collect()
      .map(_.getSeq[Float](0).toArray)
    require(cents.nonEmpty, "kmeansTrain: empty corpus")
    val emb = embeddings.localCheckpoint(true) // scanned once per round
    val stats = scala.collection.mutable.ArrayBuffer.empty[KmeansRound]
    var converged = false
    for (round <- 1 to rounds if !converged) {
      val agg = cellMicroSums(assignCells(emb, cents)).collect()
      val next = cents.map(_.clone())
      agg.foreach { r =>
        val cell = r.getAs[Long]("cell").toInt
        val dim = r.getAs[Int]("dim") - 1
        next(cell)(dim) = r.getAs[Double]("mean").toFloat
      }
      val nonEmpty = agg.map(_.getAs[Long]("cell")).toSet
      var maxMove = 0.0; var totalMove = 0.0
      cents.indices.foreach { c =>
        var m = 0.0; var i = 0
        while (i < cents(c).length) {
          val d = next(c)(i).toDouble - cents(c)(i).toDouble
          m += d * d; i += 1
        }
        maxMove = math.max(maxMove, m); totalMove += m
      }
      stats += KmeansRound(round, maxMove, totalMove, cents.length - nonEmpty.size)
      cents = next
      // convergence early-stop (a scheduled re-index job's budget guard):
      // once no centroid moved √tolerance or more, further rounds are
      // fixpoint no-ops. STRICT comparison so the 0.0 default can never
      // fire — fixed-round callers (the oracle-bound trajectory and the
      // bitwise reference spec) keep their exact round count.
      if (maxMove < tolerance) converged = true
    }
    (cents, stats.toSeq)
  }

  /** Deterministic nearest-seed cell assignment (seeds = `vec_id < k`, the
    * `ivfSearch` convention): adds a `cell` column holding the argmin
    * centroid id, ties to the LOWER cid via the (distance, cid) struct
    * sort. MAP-ONLY — the k centroids ride as literal structs (a bounded
    * driver artifact, the vocab/centroid pattern), so assignment is a
    * projection over one scan with no join and no shuffle.
    */
  def assignSeedCells(embeddings: DataFrame, k: Int): DataFrame = {
    val cents = embeddings.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
    // Fail loud rather than assign every row a NULL cell: the seed
    // convention requires ids below k to exist (a corpus whose ids start
    // at 1000 has zero seeds — a caller bug). A legitimately EMPTY corpus
    // short-circuits to an empty result instead — pre-existing callers
    // (clusterSample, cellMicroSums) return empty on empty input.
    if (cents.isEmpty) {
      require(embeddings.isEmpty,
        s"no seed vectors with vec_id < $k — the seed-cell convention needs low ids present")
      return embeddings.withColumn("cell", lit(null).cast("long"))
    }
    embeddings.withColumn("cell", graft.functions.VectorFunctions.nearestCellCid(
      col("embedding"), cents.map { case (c, v) => (c.toLong, v) }.toSeq))
  }

  /** IVF cell-occupancy balance audit — "measure, don't guess" for the
    * index layout itself (the vec_recall_curve/quantErrorAudit posture
    * applied to PARTITION SKEW): one row per cell with its vector count
    * and the integer imbalance factor
    * `load_ppm = n_vectors·cells·10⁶ DIV total` (10⁶ = perfectly
    * balanced; a 20×-overloaded cell reads 2·10⁷). Probe cost and task
    * shape in every blocked operator scale with the HOTTEST probed cell,
    * so this is the retrain/salt decision signal — run it after ingest
    * drift, before trusting nProbe budgets tuned on yesterday's layout.
    *
    * Scale shape: map-only seed assignment (literal centroids) + one
    * map-side-combined count keyed on cell (≤cells rows out) + cell-count
    * arithmetic on the bounded result. Long division floors identically
    * in any engine, so the audit is oracle-bindable.
    *
    * COST of this operator form is the assignment itself — O(cells·d) per
    * row, so O(n²·d/256) corpus-wide below the autoCells 1024 cap
    * (MEASURED: 20.9× wall at 100× data, 782 cells — the pre-cap
    * quadratic regime's tail; past the cap it is linear with a 1024·d
    * constant). An INDEXED corpus never pays it: the production form is
    * `IvfIndex.cellBalance`, which counts the layout's `cell=` partition
    * column — parquet footers only, no re-assignment.
    */
  def cellBalance(embeddings: DataFrame, nCells: Int = 0): DataFrame = {
    val cells = if (nCells > 0) nCells else autoCells(memoCount(embeddings))
    val counts = assignSeedCells(embeddings, cells)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_vectors"))
      .localCheckpoint() // two consumers: the total and the per-cell rows
    val totRow = counts.agg(sum(col("n_vectors"))).collect()(0)
    // Empty corpus: SUM over zero rows is NULL, and there is no layout to
    // audit — return the empty frame with the full schema (the
    // assignSeedCells/clusterSample empty-input convention) instead of
    // tripping an NPE on the total.
    if (totRow.isNullAt(0))
      return counts.withColumn("load_ppm", lit(null).cast("long")).orderBy(col("cell"))
    val total = totRow.getLong(0)
    require(total <= Long.MaxValue / 1000000L / cells,
      s"load_ppm would overflow Long (total=$total, cells=$cells); rerun in DECIMAL(38,0)")
    counts
      .withColumn("load_ppm",
        expr(s"(n_vectors * ${cells}L * 1000000L) DIV ${total}L"))
      .orderBy(col("cell"))
  }

  /** Cluster-balanced sampling — the corpus-coverage selection step
    * (SemDeDup/DoReMi-style pipelines sample per embedding cluster so a
    * dominant dense region cannot crowd the sample): assign every vector
    * to its nearest seed cell, then keep the `cap` lowest hash-draw
    * members of each cell. The draw is `Sampling.hashDraw` (md5 of the
    * stable id) — reproducible, stable under corpus growth, and
    * engine-portable, the exact properties `hashSample` documents.
    * Scale shape: assignment is map-only; the per-cell selection rides the
    * bounded native top-k aggregate (≤2·cap rows buffered per cell on any
    * executor, ≤cap rows per (partition, cell) into the shuffle — a
    * billion-vector hot cell never sorts in one task, unlike the
    * row_number window form the oracle uses). The 8-hex draw is < 2^32,
    * exact in the aggregator's Double; numeric order equals the hex
    * string's lexicographic order, and draw ties fall to vec_id asc in
    * both forms.
    */
  def clusterSample(embeddings: DataFrame, k: Int = 8, cap: Int = 64): DataFrame = {
    val drawNum = conv(Sampling.hashDraw(col("vec_id")), 16, 10).cast("double")
    assignSeedCells(embeddings, k)
      .groupBy(col("cell"))
      .agg(graft.functions.TopKAggregator.topK(cap, -drawNum, col("vec_id")).as("top"))
      .select(col("cell"), posexplode(col("top")))
      .select(col("cell"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("vec_id"))
      .withColumn("draw", Sampling.hashDraw(col("vec_id")))
      .orderBy(col("cell"), col("rank"))
  }

  /** Leave-one-out kNN label audit — the standard embedding-quality probe
    * run before shipping an embedding table: predict every vector's label
    * by majority vote of its k nearest OTHER vectors, report per-label
    * accuracy. High accuracy = the geometry respects the labels; a label
    * whose accuracy craters is the one whose embeddings are entangled.
    * Candidate generation is the `knnJoin` IVF-cell blocked self-join
    * (recall contract identical — `SimilaritySpec` asserts probe-all ≡
    * brute force; the registered oracle mirrors the blocked plan, so the
    * hash is recall-independent); self-pairs are filtered before the
    * bounded top-k. The vote is integer end to end: neighbor-label counts
    * argmax with (count desc, label asc) tie-break — deterministic — and
    * the only double is the final per-label accuracy division. Shuffle
    * ladder after the one candidate join: id-keyed top-k, id-keyed label
    * join, (id,label)-keyed vote count, label-keyed roll-up — every key
    * bounded by corpus ids or the label alphabet.
    */
  def knnLabelAudit(embeddings: DataFrame, k: Int = 5,
      nCells: Int = 0, nProbe: Int = 0): DataFrame =
    knnLabelAuditFor(embeddings, embeddings, k, nCells, nProbe)

  /** [[knnLabelAudit]] generalized to a bounded ANCHOR table (the
    * [[hardNegativesFor]] shape): the leave-one-out vote runs for each
    * anchor against the corpus candidate pool, so the audit's cost is
    * anchor-proportional — the production posture audits a stratified
    * sample, not every vector. Accuracy is then an ESTIMATE of the
    * full-corpus audit (the full self-join form stays the exact
    * definition and the spec pin). SCALE SHAPE note on the self form:
    * ~n^1.5 under the autoProbe default — the [[hardNegatives]] note
    * verbatim.
    */
  def knnLabelAuditFor(anchors: DataFrame, corpus: DataFrame, k: Int = 5,
      nCells: Int = 0, nProbe: Int = 0): DataFrame = {
    // nCells = 0 → auto-scale like hardNegatives (same join shape,
    // same fixed-cell hazard at growing corpus size)
    val cells = if (nCells > 0) nCells else autoCells(memoCount(corpus))
    val probes = if (nProbe > 0) nProbe else autoProbe(cells)
    val sortedCells = seedProbeExpr(corpus, cells)
    val assigned = corpus.select(col("vec_id").as("c_vec_id"), col("embedding").as("c_emb"),
      col("label").as("c_label"), element_at(sortedCells, 1).cast("long").as("cell"))
    knnLabelAuditOn(anchors, assigned, sortedCells, probes, k)
  }

  /** [[knnLabelAuditFor]]'s pipeline over a PRE-ASSIGNED corpus — shared
    * with the layout-backed [[graft.vector.IvfIndex.knnLabelAudit]].
    */
  private[graft] def knnLabelAuditOn(anchors: DataFrame, assigned: DataFrame,
      sortedCells: org.apache.spark.sql.Column, probes: Int, k: Int): DataFrame = {
    val c = assigned.select(col("c_vec_id"), col("c_emb"), col("cell"))
    val q = anchors.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
      col("label").as("q_label"), explode(slice(sortedCells, 1, probes).cast("array<long>")).as("cell"))
    val labels = assigned.select(col("c_vec_id"), col("c_label").as("n_label"))
    val topk = q.join(c, "cell")
      .filter(col("q_vec_id") =!= col("c_vec_id"))
      .withColumn("d2", l2Sq(col("q_emb"), col("c_emb")))
      .groupBy(col("q_vec_id"), col("q_label"))
      .agg(graft.functions.TopKAggregator.topK(k, -col("d2"), col("c_vec_id")).as("top"))
      .select(col("q_vec_id"), col("q_label"), explode(col("top")).as("nb"))
      .select(col("q_vec_id"), col("q_label"), col("nb.id").as("c_vec_id"))
      .join(labels, "c_vec_id")
    val voted = topk
      .groupBy(col("q_vec_id"), col("q_label"), col("n_label"))
      .agg(count(lit(1)).as("votes"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("q_vec_id"))
        .orderBy(col("votes").desc, col("n_label"))))
      .filter(col("rn") === 1)
      .select(col("q_vec_id"), col("q_label"), col("n_label").as("pred_label"))
    voted
      .groupBy(col("q_label").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(when(col("q_label") === col("pred_label"), 1L).otherwise(0L)).as("n_correct"))
      .withColumn("acc",
        col("n_correct").cast("double") / col("n_vecs").cast("double"))
      .orderBy(col("label"))
  }

  /** Skew-safe batch kNN join: `knnJoin` with HOT-CELL SALTING. IVF cells
    * are rarely balanced — a dense embedding region concentrates a large
    * fraction of the corpus in one cell, and in the plain cell-keyed join
    * that cell becomes one straggler task. Here any cell whose corpus
    * population exceeds `maxCellRows` is split into `ceil(n/maxCellRows)`
    * salted sub-keys: corpus rows take a deterministic salt
    * (`vec_id % nSalts`), queries probing that cell fan out to ALL its
    * salts. The candidate SET is identical to the unsalted join
    * (`SimilaritySpec` asserts result equality) — only the shuffle key
    * granularity changes, bounding every join task at ~maxCellRows corpus
    * rows. The per-cell salt counts are a constant-size driver map
    * (nCells entries — same pattern as the literal centroids); the
    * per-query top-k is unchanged map-side-combining bounded aggregation.
    */
  def knnJoinSalted(queries: DataFrame, corpus: DataFrame, k: Int = 10,
      nCells: Int = 0, nProbe: Int = 0, maxCellRows: Long = 1000000L): DataFrame = {
    val cells = if (nCells > 0) nCells else autoCells(memoCount(corpus))
    val probes = if (nProbe > 0) nProbe else autoProbe(cells)
    val cents = corpus.filter(col("vec_id") < cells)
      .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
    val centsL = cents.map { case (c, v) => (c.toLong, v) }.toSeq
    val assigned = corpus.select(col("vec_id").as("c_vec_id"), col("embedding").as("c_emb"),
      graft.functions.VectorFunctions.nearestCellCid(col("embedding"), centsL).as("cell"))
    // Constant-size stats: nCells rows → driver map of salt counts.
    val saltOf: Map[Long, Int] = assigned.groupBy(col("cell")).count()
      .collect().map { r =>
        r.getLong(0) -> math.max(1L, (r.getLong(1) + maxCellRows - 1) / maxCellRows).toInt
      }.toMap
    val saltMap = map(saltOf.toSeq.flatMap { case (cell, s) =>
      Seq(lit(cell), lit(s)) }: _*)
    val c = assigned.withColumn("salt",
      pmod(col("c_vec_id"), element_at(saltMap, col("cell")).cast("long")))
    // queries fan out to every salt of each probed cell
    val qSalted = queries.select(col("vec_id").as("q_vec_id"), col("embedding").as("q_emb"),
        explode(graft.functions.VectorFunctions.orderedCellCids(
          col("embedding"), centsL, probes)).as("cell"))
      .withColumn("salt", explode(sequence(lit(0L),
        element_at(saltMap, col("cell")).cast("long") - 1L)))
    qSalted.join(c, Seq("cell", "salt"))
      .withColumn("d2", l2Sq(col("q_emb"), col("c_emb")))
      .groupBy(col("q_vec_id"))
      .agg(graft.functions.TopKAggregator.topK(k, -col("d2"), col("c_vec_id")).as("top"))
      .select(col("q_vec_id"), posexplode(col("top")))
      .select(col("q_vec_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("c_vec_id"), (-col("col.value")).as("dist_sq"))
      .orderBy(col("q_vec_id"), col("rank"))
  }

  /** Embedding-cosine near-duplicate pairs via IVF-cell blocking — the
    * scale path. Each vector is multi-probe-assigned to its `nProbe`
    * nearest of `nCells` coarse cells; candidate pairs are generated ONLY
    * within shared cells (equi-join on cell id — one bounded shuffle keyed
    * by cell, never an all-pairs crossJoin), then scored exactly. Candidate
    * volume is Σ_c |cell_c|²·(nProbe/nCells)-ish instead of n²; at 100 TB
    * the cell id becomes a write-time partition column (IvfIndex) and the
    * self-join co-locates. Recall comes from multi-probing: a qualifying
    * pair is found iff the two vectors share one of their nProbe nearest
    * cells — `SimilaritySpec` asserts blocked ≡ all-pairs on the fixture,
    * and the all-pairs form below stays as the spec-level verifier.
    */
  def cosineDupPairsBlocked(embeddings: DataFrame, threshold: Double = 0.95,
      nCells: Int = 0, nProbe: Int = 0): DataFrame = {
    // nCells = 0 → corpus-sized cell count ([[autoCells]], ~256 rows/cell)
    val cells = if (nCells > 0) nCells else autoCells(memoCount(embeddings))
    val probes = if (nProbe > 0) nProbe else autoProbe(cells)
    // Seed centroids collected ONCE to the driver: cells × dim floats,
    // sub-linear in corpus size — so cell assignment below is map-only
    // codegen (distances to a literal array, array_sort, slice), with no
    // crossJoin, no per-vector window shuffle. At 100 TB this is the
    // difference between a map stage and shuffling 8× the corpus.
    val cents = embeddings.filter(col("vec_id") < cells)
      .select(col("vec_id").cast("int").as("cid"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1)))
    // (distance, cid) tie-break — identical to the windowed row_number it
    // replaces, one constant-size FloatVecNearestCells node.
    val probeCells = graft.functions.VectorFunctions.orderedCellCids(
      col("embedding"), cents.map { case (c, v) => (c.toLong, v) }.toSeq, probes)
    // Cell assignment and the exact verify are the per-row-heavy stages —
    // seed parallelism on the raw vector stream (no-op on real layouts).
    val emb = Par.seed(embeddings, col("vec_id"))
    val buckets = emb.select(col("vec_id"), explode(probeCells).as("cid"))
    // Multi-probe collisions produce DUPLICATE candidate pairs; scoring a
    // duplicate is one codegen'd dot product, while deduping pre-score is a
    // full shuffle of the candidate set — so verify first, distinct() only
    // the (tiny) thresholded survivors.
    val cand = buckets.as("x").join(buckets.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("vec_id_a"), col("y.vec_id").as("vec_id_b"))
    val normed = emb.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    cand
      .join(normed.select(col("vec_id").as("vec_id_a"), col("embedding").as("ea"),
        col("nrm").as("na")), "vec_id_a")
      .join(normed.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"),
        col("nrm").as("nb")), "vec_id_b")
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("cos").as("cos_sim"))
      .distinct()
      .orderBy(col("vec_id_a"), col("vec_id_b"))
  }

  /** Sign-random-projection (hyperplane) LSH near-dup pairs — the second
    * classic cosine LSH family, complementing the IVF-cell blocking above
    * (Charikar, "Similarity Estimation Techniques from Rounding
    * Algorithms", STOC 2002). Each vector's signature is the sign pattern
    * of `nBits` dot products against fixed random hyperplanes (a literal
    * array — map-only codegen, no shuffle); signatures band into
    * `nBits/bandBits` keys; candidates are generated ONLY within shared
    * band buckets (one equi-join keyed by (band, key)); every candidate is
    * verified with the exact cosine. P[bit collision] = 1 − θ/π, so a
    * band of b bits collides with (1−θ/π)^b and recall over the bands is
    * 1−(1−p^b)^bands — tune (bandBits, nBits) to the target threshold.
    * Deterministic for a fixed `seed`: hyperplanes come from a seeded
    * Gaussian, so any run (and the spec's recall pin) reproduces the same
    * candidate set.
    *
    * Defaults are 16 bands × 2 bits: at cos = 0.9 the per-pair miss
    * probability is (1−p²)^16 ≈ 6e-10 (p = 1−θ/π ≈ 0.857) — vanishing even
    * against a million-pair fixture, vs ~3e-5 at the 8-band setting, which
    * a fixture/SF change could plausibly trip. Re-check this bound if the
    * registered threshold or band params ever change.
    *
    * SCALE LIMIT (measured, `tools.ScaleProbe`): exact recall is bought
    * with candidate volume. A random pair agrees on a 2-bit band with
    * probability 1/4, so it shares ~nBands/4 = 4 bands in expectation —
    * on an isotropic corpus the candidate set approaches ALL PAIRS, and
    * the verify stage is CPU-quadratic (41× wall at 10× rows in the
    * round-8 probe; wider bands at θ = 0.9 cannot fix this — sign-LSH
    * needs ~50 tables for 99% recall at 16-bit bands). This DEFAULT
    * config is therefore the exact-recall tier, correct at any size and
    * economical only when the corpus is clustered; the AT-SCALE cosine
    * near-dup path is [[cosineDupPairsBlocked]] / [[semanticDedup]]
    * (IVF-cell blocking with corpus-sized nCells — 1.5× wall at 10× rows
    * in the same probe, identical pair output), the registered
    * `vec_dup_pairs` / `vec_semantic_dedup` plans.
    *
    * `maxBucket` (df-style bucket cap, the winnowing precedent): when
    * > 0, band buckets holding more than `maxBucket` vectors are dropped
    * WHOLE before the candidate join — per-band candidacy is then
    * ≤ maxBucket·n total (each row meets < maxBucket others per band),
    * linear in the corpus by construction, and the hot-bucket table the
    * anti-join consumes is bounded by the band keyspace. The trade is
    * recall on pairs whose every shared band is hot — on an isotropic
    * corpus those are overwhelmingly non-pairs (hot buckets are where
    * unrelated vectors pile up), and byte-identical vectors never need
    * the cap at all (the representative collapse pairs them outside the
    * band join) — but a genuinely DENSE near-dup region bigger than
    * `maxBucket` will be missed; that regime belongs to
    * [[cosineDupPairsBlocked]], whose cell blocking splits dense regions
    * instead of dropping them. The registered `vec_rplsh_pairs` config
    * (4 × 16-bit bands, maxBucket = 256) relies on the cap only PAST the
    * shipped fixtures — `SimilaritySpec` asserts the cap does not fire
    * there (capped ≡ uncapped), so the all-pairs oracle binds through the
    * planted twins' bitwise band-key equality, while at 10×+ the cap is
    * what keeps candidacy linear (`tools.ScaleProbe` row).
    *
    * NOT a lazy transformation: like `Dedup.minhashDupPairs`, the
    * identical-embedding collapse is adaptive, so this call runs Spark
    * jobs at plan-construction time (the dim probe, the group-table
    * localCheckpoint, and one emptiness check). Compose from the banding
    * primitives directly if a pure plan is required.
    */
  def rpLshDupPairs(embeddings: DataFrame, threshold: Double = 0.9,
      nBits: Int = 32, bandBits: Int = 2, seed: Long = 7L,
      maxBucket: Int = 0): DataFrame = {
    val dim = embeddings.select(size(col("embedding"))).head.getInt(0)
    val rnd = new scala.util.Random(seed)
    val planes: Array[Seq[Float]] =
      Array.fill(nBits)(Seq.fill(dim)(rnd.nextGaussian().toFloat))
    // ONE sign-bits node holding the plane matrix as object state (r14):
    // the old concat of nBits `when(dot(emb, typedLit(plane)) >= 0, ...)`
    // subtrees put 64 × 64-float literals in the plan, and the banding
    // self-join below replicates the signature subtree across its x/y arms
    // and the bucket-cap anti-join build — a 215 KB physical plan Catalyst
    // re-analyzed/codegen'd per action (the FloatVecNearestCells disease).
    // Bitwise-equal signature string, SimilaritySpec-pinned.
    val sigExpr = signBits(col("embedding"), planes.toSeq)
    val nBands = nBits / bandBits
    // The 32 hyperplane dot products per vector are the heavy map stage —
    // seed parallelism on the raw vector stream (no-op on real layouts).
    val emb = Par.seed(embeddings, col("vec_id"))
    // Identical-embedding collapse (the simhash/phash move, float edition):
    // a crawl's duplicated documents carry byte-identical vectors, which
    // share EVERY band — the band join would pair each such group
    // quadratically on its hottest bucket key. Banding runs over one
    // representative per distinct embedding instead; identical-vector
    // pairs expand from each group's own sorted id list, cross-group
    // pairs from the matched representatives. All expanded pairs then ride
    // the ORIGINAL scoring join, so every cos is the same float expression
    // over the same arrays as before — output bit-identical.
    val groups = emb.groupBy(col("embedding"))
      .agg(sort_array(collect_list(col("vec_id"))).as("ids"))
      .select(col("embedding"), col("ids"), element_at(col("ids"), 1).as("rep"))
      .localCheckpoint(true)
    // band + score a (vec_id, embedding) side: the 32 sign bits evaluate
    // ONCE per row in a codegen'd projection; band keys are substrings of
    // the signature — identical keys to concat-of-bits, but the heavy dot
    // expressions stay out of the Generate, whose generator argument
    // evaluates interpreted. NO distinct before scoring: the normed sides
    // broadcast, so scoring + the threshold filter run map-side over the
    // multi-band candidate stream and only the tiny survivor set ever
    // reaches an exchange.
    def scoredPairs(side: DataFrame): DataFrame = {
      val banded = side.select(col("vec_id"), sigExpr.as("sig"))
        .select(col("vec_id"), explode(array((0 until nBands).map { b =>
          struct(lit(b).as("band_id"),
            substring(col("sig"), b * bandBits + 1, bandBits).as("band_key"))
        }: _*)).as("bs"))
        .select(col("vec_id"), col("bs.band_id").as("band_id"), col("bs.band_key").as("band_key"))
      // df-style bucket cap: buckets past maxBucket drop WHOLE before the
      // self-join. The hot-key table is bounded by the band keyspace
      // (≤ nBands·2^bandBits rows), so the anti-join broadcasts.
      val buckets =
        if (maxBucket <= 0) banded
        else banded.join(
          banded.groupBy(col("band_id"), col("band_key"))
            .agg(count(lit(1)).as("bn")).filter(col("bn") > maxBucket)
            .select(col("band_id"), col("band_key")),
          Seq("band_id", "band_key"), "left_anti")
      val cand = buckets.as("x").join(buckets.as("y"),
          col("x.band_id") === col("y.band_id") && col("x.band_key") === col("y.band_key") &&
            col("x.vec_id") < col("y.vec_id"))
        .select(col("x.vec_id").as("id_a"), col("y.vec_id").as("id_b"))
      val normed = side.select(col("vec_id"), col("embedding"),
        sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
      cand
        .join(normed.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
          col("nrm").as("na")), "id_a")
        .join(normed.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
          col("nrm").as("nb")), "id_b")
        .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= threshold)
        .select(col("id_a"), col("id_b"), col("cos"))
    }
    // ADAPTIVE: groups is already materialized; when every group is a
    // singleton (duplicate-free corpus — the benchmark fixtures, or any
    // pre-exact-deduped production layout) the original single-pass plan
    // over the full table runs with zero expansion overhead.
    val hasDups = !groups.filter(size(col("ids")) > 1).isEmpty
    if (!hasDups)
      return scoredPairs(emb)
        .select(col("id_a").as("vec_id_a"), col("id_b").as("vec_id_b"),
          col("cos").as("cos_sim"))
        .distinct()
        .orderBy(col("vec_id_a"), col("vec_id_b"))
    // band + score over REPRESENTATIVES only, then expand with the scored
    // cos — bit-identical to scoring every member pair, because a member's
    // array IS its rep's array and cos is a pure function of the two
    // arrays (na*nb for a self pair is sqrt(d)*sqrt(d), replicated below).
    // The survivor checkpoint keeps the expansions their own small stage.
    val reps = groups.select(col("rep").as("vec_id"), col("embedding"))
    val repPairs = scoredPairs(reps)
      .select(col("id_a").as("rep_a"), col("id_b").as("rep_b"), col("cos"))
      .localCheckpoint(true)
    val cross = repPairs
      .join(groups.select(col("rep").as("rep_a"), col("ids").as("ids_a")), "rep_a")
      .join(groups.select(col("rep").as("rep_b"), col("ids").as("ids_b")), "rep_b")
      .select(explode(col("ids_a")).as("x"), col("ids_b"), col("cos"))
      .select(col("x"), explode(col("ids_b")).as("y"), col("cos"))
      .select(least(col("x"), col("y")).as("vec_id_a"),
        greatest(col("x"), col("y")).as("vec_id_b"), col("cos"))
    val d2self = dot(col("embedding"), col("embedding"))
    val within = groups.filter(size(col("ids")) > 1)
      .withColumn("cos", d2self / (sqrt(d2self) * sqrt(d2self)))
      .filter(col("cos") >= threshold)
      .select(explode(expr(
        """flatten(transform(ids, (x, i) ->
          |  transform(slice(ids, i + 2, size(ids)), y -> struct(x AS a, y AS b))))""".stripMargin))
        .as("p"), col("cos"))
      .select(col("p.a").as("vec_id_a"), col("p.b").as("vec_id_b"), col("cos"))
    cross.unionByName(within)
      .select(col("vec_id_a"), col("vec_id_b"), col("cos").as("cos_sim"))
      .distinct()
      .orderBy(col("vec_id_a"), col("vec_id_b"))
  }

  /** SemDeDup-shaped semantic deduplication (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic deduplication",
    * 2023): coarse-cluster the embedding space, find near-duplicate pairs
    * only within shared cells, connect them into components, and keep ONE
    * representative per component — the pruned corpus is the output.
    *
    * Composition of two independently-verified pieces: pair generation is
    * `cosineDupPairsBlocked` (the k-means-cell blocking IS SemDeDup's
    * "within-cluster pairwise similarity" step; blocked ≡ all-pairs by
    * `SimilaritySpec`), clustering is `Dedup.connectedComponents`
    * (pointer-jumping, O(log n) rounds). Survivor rule is deterministic —
    * the minimum vec_id of each component — so the result is
    * oracle-expressible, unlike centroid-distance survivor picks whose
    * ties depend on float summation order.
    *
    * Output: one row per SURVIVING vector, `cluster_size` = how many
    * corpus vectors it represents (1 = no near-dup). Scale shape: the dup
    * graph (edges, labels, sizes) is proportional to the DUPLICATE
    * fraction, not the corpus — the only corpus-sized operations are the
    * pair generation's cell join and one anti-join of drops against the
    * corpus (broadcast-able whenever dups are sparse; AQE picks that up
    * from the runtime size).
    */
  def semanticDedup(embeddings: DataFrame, threshold: Double = 0.95,
      nCells: Int = 0, nProbe: Int = 0): DataFrame = {
    val pairs = cosineDupPairsBlocked(embeddings, threshold, nCells, nProbe)
      .select(col("vec_id_a"), col("vec_id_b"))
    // (id, label) for every vector with at least one near-dup edge;
    // label = min vec_id of the component = the survivor.
    val cc = Dedup.connectedComponents(pairs, "vec_id_a", "vec_id_b")
    val sizes = cc.groupBy(col("label")).agg(count(lit(1)).as("cluster_size"))
    val drops = cc.filter(col("id") =!= col("label")).select(col("id").as("vec_id"))
    embeddings.select(col("vec_id"))
      .join(drops, Seq("vec_id"), "left_anti")
      .join(sizes.select(col("label").as("vec_id"), col("cluster_size")), Seq("vec_id"), "left")
      .select(col("vec_id"), coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy(col("vec_id"))
  }

  /** Embedding-space benchmark decontamination — the semantic companion of
    * the text-level `Curation.contaminatedDocs` n-gram gate: flag every
    * corpus vector whose cosine similarity to ANY benchmark (held-out eval
    * suite) vector reaches `threshold`, with the best-matching benchmark
    * vector as evidence. Paraphrased eval leakage survives exact and
    * n-gram decontamination (no shared surface form); the embedding gate
    * is the tier that catches it. Decontamination runs LOOSER than
    * near-dup detection by design — over-dropping a few clean docs is
    * cheap, leaking an eval item into training data is not — hence the
    * default sits below the corpus's near-dup threshold.
    *
    * Scale shape: a benchmark is bounded (an eval suite is 10³–10⁵ rows,
    * ~MBs of floats) so the benchmark side BROADCASTS — the corpus-sized
    * pass is map-only cosine against the broadcast table with the
    * threshold filter applied before anything shuffles; only the flagged
    * rows (sparse by construction — a contaminated corpus is a broken
    * corpus) reach the per-vector argmax, a partial+final max(struct)
    * keyed on vec_id (sort-based — struct buffers aren't
    * hash-aggregatable — but over the sparse flagged slice only, so the
    * sort never sees the corpus). Nothing corpus-sized crosses the shuffle and no
    * IVF/recall machinery is needed: candidacy is total, so the flag set
    * is EXACT — which is what lets a plain brute-force SQL oracle bind.
    *
    * Evidence tie rule: highest cosine, then lowest bench_id — encoded as
    * max(struct(cos, −bench_id)), the engine-portable argmax.
    *
    * Regime boundary: past broadcastable benchmark size (≫10⁵ rows — at
    * that point it is a second corpus, not an eval suite), the same
    * question is [[knnJoinSalted]] with the benchmark as the indexed side
    * and k = 1 + the threshold filter — the IVF-blocked machinery exists
    * for exactly that shape.
    */
  def semanticDecontam(corpus: DataFrame, benchmark: DataFrame,
      threshold: Double = 0.35): DataFrame = {
    val bench = benchmark.select(col("vec_id").as("bench_id"),
      col("embedding").as("be"),
      sqrt(dot(col("embedding"), col("embedding"))).as("bn"))
    // Fail loud on degenerate benchmark vectors, mirroring
    // [[decontamSignals]]: a zero (or NaN-poisoned) norm makes EVERY
    // corpus cosine NaN against that entry, and Spark's NaN ordering
    // treats NaN as larger than any value — so `cos >= threshold` would
    // PASS and the whole corpus would flag as contaminated with NaN
    // evidence. The bench side is bounded, so the check is one tiny job.
    // (NaN sorts LARGER than any value in Spark, so `bn > 0` is true for
    // NaN — test it explicitly.)
    val nBad = bench.filter(isnan(col("bn")) || col("bn") <= 0 || col("bn").isNull).count()
    require(nBad == 0,
      s"$nBad benchmark vector(s) have zero or NaN norm — refusing to decontaminate against them")
    // Corpus-side degenerate vectors get the OPPOSITE treatment from the
    // benchmark's fail-loud: a zero/NaN-norm corpus embedding makes its own
    // cosine NaN, which would PASS `cos >= threshold` under NaN-is-greatest
    // ordering and silently flag (= delete from the training set) that row
    // on undefined evidence. Decontamination must not drop data it cannot
    // actually measure — degenerate corpus rows pass through UNFLAGGED (one
    // extra map-side predicate; an upstream embedding-health gate is where
    // they get surfaced, not here).
    val c = corpus.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("cn"))
      .filter(!isnan(col("cn")) && col("cn") > 0)
    c.crossJoin(broadcast(bench))
      .withColumn("cos", dot(col("embedding"), col("be")) / (col("cn") * col("bn")))
      .filter(col("cos") >= threshold)
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cos"), (-col("bench_id")).as("nbid"))).as("best"))
      .select(col("vec_id"), (-col("best.nbid")).as("bench_id"),
        col("best.cos").as("cos_sim"))
      .orderBy(col("vec_id"))
  }

  /** Sort-free, SHUFFLE-free signals form of [[semanticDecontam]] for the
    * literal-benchmark regime — the streaming twin's shape (the
    * `domainSignals` posture: the model is a driver artifact, scoring is
    * one map-only projection). Each benchmark vector becomes one codegen'd
    * dot fold against the row's embedding; the per-row argmax is an
    * `array_max` over (cos, −bench_id) structs, so flags, evidence and
    * cosines equal the batch operator BITWISE: the dot expression is the
    * same sequential float64 fold either way, and the benchmark norms are
    * pre-folded on the driver in the identical element order. Row-local ⇒
    * legal mid-stream with zero state and no watermark.
    *
    * Literal-size cap, MEASURED (r12 StreamBench, same fixture for both
    * forms): at 128 vectors × 64 dims the generated projection already
    * exceeds JIT-friendly method size and this form sustains ~6k rows/s
    * against the broadcast batch operator's ~98k — the literal fold's
    * honest home regime is ~10¹ benchmark entries, not the ~10³ the plan
    * size alone would suggest. Its remaining advantage is structural:
    * row-local and stateless, so it is legal MID-STREAM (inside any
    * transform chain, no sink required), where the broadcast form needs a
    * foreachBatch boundary (`EventStream.semanticDecontamIngest`). Past a
    * handful of entries, prefer the broadcast form whenever a micro-batch
    * boundary is available.
    */
  def decontamSignals(vecs: DataFrame, bench: Seq[(Long, Array[Float])],
      threshold: Double = 0.35): DataFrame = {
    require(bench.nonEmpty, "decontamSignals needs a non-empty benchmark")
    // The row norm is HOISTED into a named column rather than inlined into
    // every entry's cosine: inlined, the generated projection carried one
    // `sqrt(vec_dot(embedding, embedding))` subtree PER benchmark vector —
    // at the 128-entry eval-suite scale that doubles the per-row flop
    // count if common-subexpression elimination ever declines, and bloats
    // the codegen'd method the JIT has to chew. Same double arithmetic,
    // bitwise-identical cosines (the spec's literal ≡ batch assert pins
    // it).
    val cn = sqrt(dot(col("embedding"), col("embedding")))
    val entries = bench.map { case (bid, bv) =>
      val bn = math.sqrt(bv.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      // Fail loud on a degenerate benchmark vector: its NaN cosine wins
      // every row's array_max AND passes the threshold filter (NaN is
      // larger than any value in Spark's ordering and comparisons), so
      // the whole corpus would flag with NaN evidence. The batch form
      // refuses the same way (its driver-side norm check), keeping the
      // two forms equivalent on degenerate input too.
      require(bn > 0, s"benchmark vector $bid has zero norm")
      struct((dot(col("embedding"), typedLit(bv.toSeq)) / (col("_cn") * lit(bn))).as("cos"),
        lit(-bid).as("nbid"))
    }
    // Same corpus-side guard as the batch form (kept EQUIVALENT on
    // degenerate input too): a zero/NaN-norm row's cosine is NaN and would
    // pass the threshold under NaN-is-greatest — it must pass through
    // unflagged, not get dropped from training data on undefined evidence.
    vecs.withColumn("_cn", cn)
      .filter(!isnan(col("_cn")) && col("_cn") > 0)
      .withColumn("best", array_max(array(entries: _*)))
      .filter(col("best.cos") >= threshold)
      .select(col("vec_id"), (-col("best.nbid")).as("bench_id"),
        col("best.cos").as("cos_sim"))
  }

  /** Exact all-pairs cosine near-dup — O(n²) by construction. Kept as the
    * spec-level verifier for the blocked plan above; never the shipped
    * query path at scale.
    */
  def cosineDupPairs(embeddings: DataFrame, threshold: Double = 0.95): DataFrame = {
    // Precompute each side's norm once — 3x fewer folds than cosine() per pair.
    val normed = embeddings.select(col("vec_id"), col("embedding"),
      sqrt(dot(col("embedding"), col("embedding"))).as("nrm"))
    val a = normed.select(col("vec_id").as("vec_id_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = normed.select(col("vec_id").as("vec_id_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.crossJoin(b)
      .filter(col("vec_id_a") < col("vec_id_b"))
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= threshold)
      .select(col("vec_id_a"), col("vec_id_b"), col("cos").as("cos_sim"))
      .orderBy(col("vec_id_a"), col("vec_id_b"))
  }
}
