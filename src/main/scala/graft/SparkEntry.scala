package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops._
import graft.sources.Parquet

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is a named operator from SURVEY.md §2 (or a scale
  * extension), implemented Spark-first in graft.ops / graft.crm /
  * graft.vector; each `oracleSql` entry is the equivalent ANSI SQL the
  * driver runs in DuckDB over the same parquet tables. Column names and
  * output ordering match exactly on both sides; numeric aggregates are
  * decimal-exact (graft.functions.Num) so hashes match bit-for-bit.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(Tables.lineitem(spark, "/root/testdata/sf0.001"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = coreQueries ++ crmQueries

  /** Build-once on-disk artifacts per (kind, sf dir) — the amortized-index
    * contract. Production builds an index once and queries it many times,
    * so the registered `*_build` entries time a FRESH build on every call
    * while the `*_query` twins serve from this cache (building lazily only
    * if no `*_build` entry ran first, e.g. under SPARK_GRAFT_ONLY). The
    * content correctness of a cached build is checked END-TO-END: the query
    * twin reads only the built layout and must still hash-match its
    * engine-independent oracle.
    */
  private val artifactCache = new scala.collection.concurrent.TrieMap[String, String]
  private def cachedArtifact(kind: String, sfDir: String)(build: String => Unit): String =
    artifactCache.getOrElseUpdate(s"$kind|$sfDir", {
      val dir = java.nio.file.Files.createTempDirectory(s"graft-$kind").toString + "/idx"
      build(dir)
      dir
    })

  /** The shared seed-rule IVF layout (kmeansIters = 0 at the autoCells
    * default) that `vec_cell_balance` and the three default (layout-backed)
    * mining registrations all serve from. ONE builder so the config can never
    * drift between them — their oracles replay exactly this seed
    * assignment, so a divergent copy would hash-mismatch confusingly.
    * Cache-keyed per sf dir; whichever query runs first pays the build
    * (alphabetically `vec_cell_balance` in a full run — the documented
    * cachedArtifact convention).
    */
  private def ivfBalDir(s: SparkSession, d: String): String = {
    val emb = Tables.embeddings(s, d)
    cachedArtifact("ivfbal", d)(p =>
      graft.vector.IvfIndex.build(s, emb, p,
        nCells = Similarity.autoCells(Similarity.memoCount(emb)), kmeansIters = 0))
  }

  private val coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- relational core (SURVEY §2.2-2.8) ----
    "q1_pricing_summary" -> ((s, d) => Relational.pricingSummary(Tables.lineitem(s, d))),
    "q3_shipping_priority" -> ((s, d) =>
      Relational.shippingPriority(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q5_local_supplier" -> ((s, d) =>
      Relational.localSupplierVolume(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q6_revenue_forecast" -> ((s, d) => Relational.revenueForecast(Tables.lineitem(s, d))),
    "q_window_running" -> ((s, d) => Relational.supplierRunningShipments(Tables.lineitem(s, d))),
    "q_window_funcs" -> ((s, d) => Relational.supplierShipNavigation(Tables.lineitem(s, d))),
    "q_rollup_returns" -> ((s, d) => Relational.returnsRollup(Tables.lineitem(s, d))),
    "q_setops_nations" -> ((s, d) =>
      Relational.nationSetOps(Tables.nation(s, d), Tables.customer(s, d), Tables.supplier(s, d))),
    "q_order_stats" -> ((s, d) => Relational.orderStats(Tables.orders(s, d))),
    "q_topk_parts" -> ((s, d) => Relational.topExpensiveParts(Tables.part(s, d))),
    "q_cube_orders" -> ((s, d) => Relational.priorityStatusCube(Tables.orders(s, d))),
    "q_large_orders" -> ((s, d) =>
      Relational.largeOrders(Tables.customer(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_above_avg_parts" -> ((s, d) => Relational.aboveAverageParts(Tables.part(s, d))),
    "q12_priority_ship" -> ((s, d) =>
      Relational.priorityShipSummary(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q14_promo_share" -> ((s, d) =>
      Relational.promoRevenueShare(Tables.part(s, d), Tables.lineitem(s, d))),
    "q19_brand_bands" -> ((s, d) =>
      Relational.brandBandRevenue(Tables.part(s, d), Tables.lineitem(s, d))),
    "q_anti_join" -> ((s, d) =>
      Relational.customersWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q_semi_join" -> ((s, d) =>
      Relational.customersWithUrgentOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q4_priority_exists" -> ((s, d) =>
      Relational.orderPriorityCheck(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q7_volume_shipping" -> ((s, d) =>
      Relational.volumeShipping(Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q10_returned_items" -> ((s, d) =>
      Relational.returnedItemRevenue(Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_quantiles" -> ((s, d) => Relational.quantiles(Tables.lineitem(s, d))),
    // ANALYZE-style stats: 5 lineitem columns profiled in one aggregation
    // (exact ndv via Expand; exact quartiles via percentile ≡ quantile_cont).
    "q_column_stats" -> ((s, d) => Relational.columnStats(Tables.lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax", "l_partkey"))),
    // Decimal-exact moments → Pearson r + OLS of extendedprice on quantity
    // (built-in corr() can't oracle-bind: float accumulation order).
    "q_regression" -> ((s, d) =>
      Relational.regressionMoments(Tables.lineitem(s, d), "l_quantity", "l_extendedprice")),
    // 20-bucket equi-width distribution of extendedprice, empty buckets kept.
    "q_histogram" -> ((s, d) =>
      Relational.histogram(Tables.lineitem(s, d), "l_extendedprice")),
    // Top-10 customer revenue concentration with cumulative shares.
    "q_revenue_concentration" -> ((s, d) =>
      Relational.revenueConcentration(Tables.orders(s, d), Tables.lineitem(s, d))),
    // Per-returnflag regression: the GROUP BY twin of q_regression.
    "q_regression_by_flag" -> ((s, d) => Relational.regressionMomentsBy(
      Tables.lineitem(s, d), "l_returnflag", "l_quantity", "l_extendedprice")),
    "q13_order_counts" -> ((s, d) =>
      Relational.orderCountDistribution(Tables.customer(s, d), Tables.orders(s, d))),
    "q15_top_supplier" -> ((s, d) =>
      Relational.topSupplierRevenue(Tables.supplier(s, d), Tables.lineitem(s, d))),
    "q17_small_qty" -> ((s, d) =>
      Relational.smallQtyRevenue(Tables.part(s, d), Tables.lineitem(s, d))),
    "q22_global_sales" -> ((s, d) =>
      Relational.globalSalesOpportunity(Tables.customer(s, d), Tables.orders(s, d))),
    "q8_market_share" -> ((s, d) =>
      Relational.marketShare(Tables.region(s, d), Tables.nation(s, d), Tables.customer(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d), Tables.supplier(s, d), Tables.part(s, d))),
    "q9_nation_profit" -> ((s, d) =>
      Relational.nationProfit(Tables.nation(s, d), Tables.orders(s, d), Tables.lineitem(s, d),
        Tables.supplier(s, d), Tables.part(s, d))),
    "q16_supplier_counts" -> ((s, d) =>
      Relational.partSupplierCounts(Tables.part(s, d), Tables.lineitem(s, d), Tables.supplier(s, d))),
    "q20_excess_supply" -> ((s, d) =>
      Relational.excessSupplySuppliers(Tables.nation(s, d), Tables.supplier(s, d),
        Tables.part(s, d), Tables.lineitem(s, d))),
    "q21_waiting_suppliers" -> ((s, d) =>
      Relational.waitingSuppliers(Tables.nation(s, d), Tables.supplier(s, d),
        Tables.orders(s, d), Tables.lineitem(s, d))),
    "q2_min_cost_supplier" -> ((s, d) =>
      Relational.minCostSupplier(Tables.region(s, d), Tables.nation(s, d),
        Tables.supplier(s, d), Tables.part(s, d), Tables.lineitem(s, d))),
    "q11_important_stock" -> ((s, d) =>
      Relational.importantStock(Tables.nation(s, d), Tables.supplier(s, d),
        Tables.lineitem(s, d))),
    "q_grouping_sets" -> ((s, d) => Relational.priorityStatusGroupingSets(Tables.orders(s, d))),
    "q_multiset_ops" -> ((s, d) =>
      Relational.nationMultisetOps(Tables.customer(s, d), Tables.supplier(s, d))),
    "q_pivot" -> ((s, d) => Relational.returnflagStatusPivot(Tables.lineitem(s, d))),
    // ---- event analytics (SURVEY §2.10 batch forms) ----
    "ev_tumbling_hourly" -> ((s, d) => Events.tumblingHourly(Tables.events(s, d))),
    "ev_sessionize" -> ((s, d) => Events.sessionize(Tables.events(s, d))),
    "ev_sliding_qtr" -> ((s, d) => Events.slidingQuarterHourly(Tables.events(s, d))),
    "ev_json_buckets" -> ((s, d) => Events.jsonPropBuckets(Tables.events(s, d))),
    "ev_top_users" -> ((s, d) => Events.topUsers(Tables.events(s, d), Tables.customer(s, d))),
    "ev_asof_join" -> ((s, d) => AsOfJoin.eventOrderAsOf(Tables.events(s, d), Tables.orders(s, d))),
    // View→purchase conversion-latency quantiles: AsOfJoin to the latest
    // prior view, exact integer microsecond latencies, the distributed
    // exact-quantile engine (quantile_cont-parity interpolation).
    "ev_conversion_latency" -> ((s, d) => Events.conversionLatency(Tables.events(s, d))),
    "ev_range_join" -> ((s, d) =>
      RangeJoin.eventsNearOrders(Tables.events(s, d), Tables.orders(s, d))),
    // no oracleSql on purpose: HLL estimates are engine-specific; driver
    // records the weaker rows-only check for this one.
    "ev_approx_users" -> ((s, d) => Events.approxUserCounts(Tables.events(s, d))),
    // rows-only for the same reason (sketch estimates are engine-specific).
    "ev_approx_quantiles" -> ((s, d) => Events.approxValueQuantiles(Tables.events(s, d))),
    "ev_topk_per_user" -> ((s, d) => graft.functions.TopKAggregator.topEventsPerUser(Tables.events(s, d))),
    // Z-order layout roundtrip: events rewritten z-ordered on
    // (user_id, value), then a two-dimensional selective scan over the
    // layout — the oracle reads the RAW table, so any row the layout
    // dropped, duplicated, or altered hash-mismatches. The pruning teeth
    // (scan reads a fraction of the files) are asserted in ZOrderSpec.
    "ev_zorder_scan" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val dir = cachedArtifact("zorder", d) { p =>
        graft.sources.ZOrder.writeZOrdered(
          Tables.events(s, d).select(col("event_id"), col("user_id"), col("value")),
          p, "user_id", "value")
      }
      Parquet.read(s, dir)
        .filter(col("user_id").between(100, 163) && col("value") >= 50.0)
        .orderBy(col("event_id"))
    }),
    // ---- similarity search / vector index (SURVEY §3.1, scale extensions) ----
    "vec_knn_l2" -> ((s, d) => Similarity.knnL2(Tables.embeddings(s, d))),
    // Matryoshka-style funnel: prefix-16-dim candidates (m=50), exact
    // full-vector re-rank. The rule is deterministic end to end, so the
    // oracle mirrors BOTH stages rather than binding only an exact config.
    "vec_prefix_rerank" -> ((s, d) => Similarity.prefixRerankKnn(Tables.embeddings(s, d))),
    // Per-dimension extent/dead-dim audit over the embedding corpus.
    "vec_dim_extent" -> ((s, d) => Similarity.dimExtent(Tables.embeddings(s, d))),
    "vec_knn_cosine" -> ((s, d) => Similarity.knnCosine(Tables.embeddings(s, d))),
    // SQ8 in the provably-exact configuration (refine covers the corpus —
    // the PQ-family oracle pattern): full encode→ADC→refine machinery,
    // brute-force answer, so the vec_knn_l2 oracle binds verbatim.
    "vec_sq_search" -> ((s, d) => graft.vector.SqIndex.searchExact(Tables.embeddings(s, d))),
    // Batch SQ join: the ADC band (± the analytic decode-error bound)
    // provably contains the true top-k, so the re-rank answer is exactly
    // brute force and the oracle is the plain per-query top-k SQL.
    "vec_sq_knn_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      graft.vector.SqIndex.knnJoin(emb.filter(col("vec_id") % 37 === 0), emb)
    }),
    // Exact range search (all neighbors within r): map-only distance +
    // filter — no shuffle at any scale; r² = 1.45 is the ~1-2% tail of
    // this generator's distance distribution from vec 0.
    "vec_range_search" -> ((s, d) => Similarity.rangeSearch(Tables.embeddings(s, d))),
    // Batch kNN join: top-k neighbors for EVERY row of a query table (the
    // deterministic vec_id % 37 slice), via IVF-cell blocking. The oracle
    // mirrors the BLOCKED plan itself (assignment + multi-probe + within-
    // cell top-k are all deterministic and SQL-expressible — the same
    // two-path-oracle precedent as doc_blocked_jaccard), so the hash check
    // is recall-independent; SimilaritySpec holds the algorithmic asserts
    // (probe-all ≡ brute force exactly; default probes hit a recall floor).
    "vec_knn_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Similarity.knnJoin(emb.filter(col("vec_id") % 37 === 0), emb)
    }),
    // Hard-negative mining (contrastive-training data prep): the 5 nearest
    // DIFFERENT-label corpus neighbors for each of a BOUNDED 256-anchor
    // sample (hashDraw order — production mines a training batch, never
    // the corpus). REGISTERED DEFAULT = the LAYOUT-BACKED form since r12:
    // corpus cells come off the kmeansIters=0 artifact (no per-call
    // O(n·cells·d) assignment pass — the 100× probe measured the two-table
    // form at 16.7–22.9× wall vs 2.2–4.5× indexed), and the on-disk
    // assignment IS the seed rule, so the oracle is UNCHANGED. The
    // two-table form stays registered as vec_hard_negatives_unindexed
    // (the honest unindexed-corpus tier). r11 bench keys: the r12 names
    // vec_{triplets,hard_negatives,label_audit} continue r11's *_indexed
    // rows; r12's *_unindexed continue r11's unsuffixed rows.
    "vec_hard_negatives" -> ((s, d) =>
      graft.vector.IvfIndex.hardNegatives(s, ivfBalDir(s, d),
        Similarity.anchorSample(Tables.embeddings(s, d)))),
    "vec_hard_negatives_unindexed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.hardNegativesFor(Similarity.anchorSample(emb), emb)
    }),
    // Leave-one-out kNN label audit (embedding-quality probe): per-label
    // majority-vote accuracy over the 256-anchor sample's 5 nearest
    // corpus others (the stratified-audit posture — anchor-proportional
    // cost); integer vote with deterministic argmax tie-break. Default =
    // layout-backed (see vec_hard_negatives); full-corpus audit stays the
    // SimilaritySpec pin.
    "vec_label_audit" -> ((s, d) =>
      graft.vector.IvfIndex.knnLabelAudit(s, ivfBalDir(s, d),
        Similarity.anchorSample(Tables.embeddings(s, d)))),
    "vec_label_audit_unindexed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.knnLabelAuditFor(Similarity.anchorSample(emb), emb)
    }),
    // One exact distributed Lloyd step (fixed-point microunit sums — all
    // long arithmetic through the shuffle, cross-engine exact; the double
    // division happens once at output). Seeds = vec_id < 8, argmin
    // assignment with cid tie-break, (cell, dim) roll-up.
    "vec_kmeans_step" -> ((s, d) =>
      Similarity.kmeansStep(Tables.embeddings(s, d))),
    // TWO exact Lloyd rounds through the training loop: round 1 updates
    // the centroids (quantized mean → one float rounding per coordinate,
    // empty cells keep their seed), round 2's (cell, dim) roll-up is the
    // output — so the oracle replays a genuine multi-round trajectory,
    // float-rounded centroids and all, in SQL. Pin for kmeansTrain /
    // IvfIndex.retrain beyond the spec-level bitwise Lloyd reference.
    "vec_kmeans_train2" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val (cents, _) = Similarity.kmeansTrain(emb, k = 8, rounds = 1)
      Similarity.kmeansStepWith(emb, cents)
    }),
    // Cluster-balanced sample: cap lowest-hash-draw members per seed cell
    // via the bounded native top-k aggregate (no per-cell window sort);
    // the oracle uses the row_number window form — same rows by the
    // numeric-order ≡ hex-lex-order argument.
    "vec_cluster_sample" -> ((s, d) =>
      Similarity.clusterSample(Tables.embeddings(s, d))),
    "vec_ivf_search" -> ((s, d) => Similarity.ivfSearch(Tables.embeddings(s, d))),
    // Recall@10 of the IVF probe trade across budgets 1/2/4/8 over a
    // deterministic 8-query window — the ANN tuning curve, oracle-bound:
    // every stage is engine-portable arithmetic with (d2, id) tie-breaks,
    // and the probe-all row pins recall = 1.0 exactly.
    "vec_recall_curve" -> ((s, d) => Similarity.ivfRecallCurve(Tables.embeddings(s, d))),
    // Contrastive triplet mining (hardest positive + hardest negative per
    // anchor, FaceNet posture) for the BOUNDED 256-anchor sample against
    // the corpus pool, at the BUDGETED autoProbe probe — the production
    // mining shape (a training batch of anchors; cost flat in corpus size
    // per anchor). The oracle mirrors the BLOCKED PLAN + anchor rule
    // (assignment + probe + label-masked top-1 per arm are all
    // deterministic and SQL-expressible), so the hash check is
    // recall-independent. Neighborhood-hardest semantics: anchors lacking
    // either arm inside their probed cells drop (documented inner-join
    // contract) — vec_triplets_exact below is the registered probe-all
    // entry whose mined arms ARE the global FaceNet definition, and
    // SimilaritySpec additionally pins the full-corpus probe-all form.
    // Default = LAYOUT-BACKED over the kmeansIters=0 artifact (the
    // vec_cell_balance layout): corpus cells come off disk — no per-call
    // O(n·cells·d) assignment pass, and the anchors' probed-cell union
    // statically prunes the partitioned scan. The on-disk assignment IS
    // the seed rule, so it binds to the SAME oracle as the two-table
    // form: indexed ≡ operator is driver-checked, not just spec-pinned.
    "vec_triplets" -> ((s, d) =>
      graft.vector.IvfIndex.tripletMine(s, ivfBalDir(s, d),
        Similarity.anchorSample(Tables.embeddings(s, d)))),
    "vec_triplets_unindexed" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.tripletMineFor(Similarity.anchorSample(emb), emb)
    }),
    // PROBE-ALL triplet mining over the same bounded anchor sample:
    // candidacy is total (nProbe covers every cell), so each anchor's
    // mined positive/negative is the GLOBALLY hardest — the brute FaceNet
    // definition — and the oracle is the plain brute-force SQL, not a
    // plan replay. This is the registered anchor-coverage pin the budgeted
    // entry can't give: every anchor with both arms in the corpus is
    // present in the output. Cost is anchors × corpus (linear in n for
    // fixed anchors) — the exact-tier config, still bounded.
    "vec_triplets_exact" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.tripletMineFor(Similarity.anchorSample(emb), emb, nProbe = 1024)
    }),
    // Robust median/MAD outlier audit per dimension (Hampel identifier) —
    // both median passes through the distributed exact-quantile engine,
    // whose interpolation matched DuckDB quantile_cont bitwise.
    "vec_outlier_audit" -> ((s, d) => Similarity.madOutliers(Tables.embeddings(s, d))),
    // Blocked (IVF-cell) plan; the oracle stays the all-pairs definition —
    // the blocked plan must reproduce it exactly. NOTE: blocked ≡ all-pairs
    // is DATA-DEPENDENT recall, not a guarantee — at cos ≥ 0.42 a
    // qualifying pair is found iff the two vectors share one of their
    // autoProbe (max(4, √cells)) nearest cells, which holds on this
    // generator's geometry at every shipped SF (verified at sf0.001/0.01/0.1; the
    // algorithmic equivalence assert lives in SimilaritySpec). A different
    // embedding generator could need more probes; that would be a recall
    // tuning knob, not an operator bug.
    "vec_dup_pairs" -> ((s, d) => Similarity.cosineDupPairsBlocked(Tables.embeddings(s, d), 0.42)),
    // SemDeDup-shaped pruning over the same verified pair generation:
    // components of the cos >= 0.42 near-dup graph, min-id survivor each,
    // cluster_size = how many corpus vectors that survivor represents.
    // Oracle = all-pairs edges + recursive min-label reachability (the
    // doc_dup_clusters precedent) + the same survivor/size projection.
    "vec_semantic_dedup" -> ((s, d) => Similarity.semanticDedup(Tables.embeddings(s, d), 0.42)),
    // Embedding-space benchmark decontamination — the semantic tier of the
    // decontam ladder (doc_decontam exact n-grams → doc_decontam_bloom →
    // this; paraphrased eval leakage shares no surface form). Benchmark =
    // every 97th vector (the doc_decontam split rule); threshold 0.35 sits
    // deliberately BELOW the corpus's 0.42 near-dup bar — decontamination
    // over-drops, never under-drops. Candidacy is total (broadcast bench,
    // map-only cosine) so the brute SQL oracle binds recall-free: 9 of 494
    // corpus vectors flag at sf0.01, 89 of 4,979 at sf0.1 — selective with
    // teeth at both shipped SFs.
    "vec_decontam" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      Similarity.semanticDecontam(
        emb.filter(col("vec_id") % 97 =!= 0), emb.filter(col("vec_id") % 97 === 0))
    }),
    // Region-balanced diversity sample: 16 sign-pattern regions (first 4
    // dims), cap 8 per region in stable hashDraw order — the embedding-
    // space twin of doc_rebalance. 16 regions over 500/5000 vectors means
    // the cap genuinely cuts at both shipped SFs.
    "vec_diverse_sample" -> ((s, d) =>
      Sampling.diverseSample(Tables.embeddings(s, d), 8, 4)),
    // Second cosine-LSH family (sign random projections), registered at
    // the CANDIDACY-BOUNDED config: 4 bands × 16 bits (keyspace 65,536
    // per band) + df-style bucket cap 256 — per-band candidacy is
    // ≤ 256·n by construction, linear at any corpus size (the round-8
    // probe measured the old exact-recall 2-bit config at 47.9× wall at
    // 10× data; that demonstration is now spec-level, the simhashDupPairs
    // precedent). Oracle = the all-pairs definition at cos ≥ 0.9: the raw
    // corpus has NO pairs at that threshold at the shipped SFs, so the
    // HARNESS plants deterministic near-pairs — every 25th vector
    // re-offered under id+100000, DOUBLED elementwise. Doubling a float
    // is exact (exponent bump, no rounding), so a twin's 64 sign bits are
    // bitwise its source's and candidacy is guaranteed in EVERY band, not
    // probabilistic; SimilaritySpec asserts the cap does not fire on this
    // fixture (capped ≡ uncapped), so the oracle binds recall-free. The
    // oracle mirrors the same union.
    "vec_rplsh_pairs" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      val planted = emb.filter(col("vec_id") % 25 === 0)
        .select((col("vec_id") + 100000L).as("vec_id"),
          transform(col("embedding"), x => x + x).as("embedding"))
      Similarity.rpLshDupPairs(emb.unionByName(planted), 0.9,
        nBits = 64, bandBits = 16, maxBucket = 256)
    }),
    "vec_index_prune" -> ((s, d) => graft.vector.VectorIndex.pruneStats(Tables.embeddings(s, d))),
    // IVF-PQ build, timed as its own entry: a FRESH k-means + residual-PQ
    // train + partitioned write per call (the honest build cost), installed
    // into the artifact cache for the query twins. The returned summary is
    // the only cross-engine-expressible slice of a k-means artifact — the
    // build's CONTENT is verified end-to-end by the query twins below,
    // whose brute-force oracles bind on data read exclusively from this
    // layout.
    "vec_pq_build" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("graft-q-ivfpq").toString + "/idx"
      graft.vector.IvfPqIndex.build(s, Tables.embeddings(s, d), dir)
      artifactCache.putIfAbsent(s"ivfpq|$d", dir)
      Parquet.read(s, s"$dir/vectors")
        .agg(count(lit(1)).as("n_vectors"),
          countDistinct(col("vec_id")).as("n_distinct_ids"),
          sum(org.apache.spark.sql.functions.size(col("codes")).cast("long")).as("n_codes"))
    }),
    // PQ single-query search in the PROVABLY-EXACT configuration: probe all
    // cells, refine budget covering the whole corpus — IvfPqSpec proves this
    // config ≡ brute force bit-for-bit, so the DuckDB brute-force top-k
    // oracle binds (the vec_knn_l2 pattern). The fast approximate configs
    // (narrow probe, small refine) stay spec-level in PqIndexSpec/IvfPqSpec.
    // `cell` is dropped from the output: it is the one k-means-dependent
    // column, and exactness of (vec_id, label, dist_sq) is centroid-free.
    "vec_pq_search" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("ivfpq", d)(p => graft.vector.IvfPqIndex.build(s, emb, p))
      val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)
      val rf = ((emb.count() + 9) / 10).toInt
      graft.vector.IvfPqIndex.search(s, dir, qv, k = 10, nProbe = 8, refineFactor = rf)
        .select(col("vec_id"), col("label"), col("dist_sq"))
    }),
    // Batch ADC kNN join over the cached on-disk IVF-PQ layout, same
    // provably-exact configuration (probe-all + full refine ≡ brute force,
    // IvfPqSpec): per-(query, cell) residual LUTs in-plan, codes-only
    // candidate scoring, exact re-rank. Oracle = DuckDB brute-force
    // per-query top-k.
    "vec_pq_knn_join" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("ivfpq", d)(p => graft.vector.IvfPqIndex.build(s, emb, p))
      val rf = ((emb.count() + 9) / 10).toInt
      graft.vector.IvfPqIndex.knnJoin(s, dir, emb.filter(col("vec_id") % 37 === 0),
        k = 10, nProbe = 8, refineFactor = rf)
    }),
    // Budgeted (production) ANN configs, ORACLE-BOUND since round 10 by
    // replaying the deterministic budgeted PLAN (probe → ADC/decode rank →
    // bounded refine → exact re-rank) in SQL — the vec_triplets precedent:
    // the hash pins the plan's determinism, the recall floors for these
    // configs stay spec-asserted (IvfPqSpec "default narrow probe":
    // nProbe=2, refineFactor=4, knnJoin floor ≥ 0.5; SqIndexSpec "budgeted
    // config": refine = 8·k, recall ≥ 0.9). The PQ entry runs against a
    // SEED-SIDECAR artifact (kmeansIters = 0, pqIters = 0): trained
    // centroids/codebooks come from distributed float `avg`, whose
    // cross-engine summation order is not reproducible, while the serve
    // PLAN — probe count, codes-only ADC scan, refine budget, bytes
    // touched — is identical either way, so the timed number still
    // measures the production config (the trained artifact keeps its own
    // build/search entries above).
    // The seed-sidecar artifact build as its OWN timed entry (the
    // vec_serve_build / vec_pq_build precedent — "fast_build" sorts
    // before "search_fast", so the search entry measures the amortized
    // serve path, not a first-call build). Summary oracle = corpus
    // structure, artifact-independent; the build's CONTENT is what the
    // search entry's plan-replay oracle verifies end to end.
    "vec_pq_fast_build" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("graft-q-ivfpq0").toString + "/idx"
      graft.vector.IvfPqIndex.build(s, Tables.embeddings(s, d), dir,
        kmeansIters = 0, pqIters = 0)
      artifactCache.putIfAbsent(s"ivfpq0|$d", dir)
      Parquet.read(s, s"$dir/vectors")
        .agg(count(lit(1)).as("n_vectors"),
          countDistinct(col("vec_id")).as("n_distinct_ids"),
          sum(org.apache.spark.sql.functions.size(col("codes")).cast("long")).as("n_codes"))
    }),
    "vec_pq_search_fast" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("ivfpq0", d)(p =>
        graft.vector.IvfPqIndex.build(s, emb, p, kmeansIters = 0, pqIters = 0))
      val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)
      graft.vector.IvfPqIndex.search(s, dir, qv, k = 10, nProbe = 2, refineFactor = 4)
    }),
    // SQ8's train is per-dimension min/max — order-independent and exact
    // in any engine — so the fast config replays over the TRAINED bounds:
    // encode (clamp + round) → decode → ADC rank → refine 80 → exact
    // top-10, every step single-IEEE-op double arithmetic.
    "vec_sq_search_fast" -> ((s, d) =>
      graft.vector.SqIndex.search(Tables.embeddings(s, d), k = 10, refine = 80)),
    // SQ8 reconstruction-error audit: top-20 worst encode→decode vectors,
    // each checked against the analytic half-step bound (all pass on a
    // healthy corpus — the within_bound column is the contract the ADC
    // serving path rests on). Same exact train/encode/decode arithmetic
    // as vec_sq_search_fast, so the oracle replays it end to end.
    "vec_quant_error" -> ((s, d) =>
      graft.vector.SqIndex.quantErrorAudit(Tables.embeddings(s, d))),
    // IVF cell-occupancy balance audit in its PRODUCTION form — the
    // footer-only count over the physical layout's `cell=` partition
    // column (`IvfIndex.cellBalance`): an indexed corpus already carries
    // its assignment on disk, so the audit reads parquet metadata, not
    // vectors — linear in files, flat in d, no re-assignment pass (the
    // operator form's literal-centroid pass measured 20.9× wall at 100×
    // data pre-cap; it stays registered below at the FIXED-1024 post-cap
    // regime where it is linear, and as the unindexed-corpus fallback).
    // The artifact builds at kmeansIters=0 (the naive-seed layout), so
    // the on-disk assignment is the deterministic seed-cell rule the
    // oracle replays; load_ppm = n·cells·10⁶ DIV total, 10⁶ = balanced —
    // the retrain/salt decision signal. Centroid cells with zero
    // surviving rows report 0 (a hollowed cell is what the audit is FOR).
    "vec_cell_balance" -> ((s, d) =>
      graft.vector.IvfIndex.cellBalance(s, ivfBalDir(s, d))),
    // The operator (unindexed-corpus) form, pinned at the autoCells CAP
    // boundary (1024 fixed cells — the regime where the directory is
    // largest and the assignment pass is linear with a 1024·d constant):
    // a second oracle binding of the load-factor arithmetic, at a cell
    // count three decades above the default's 8/20.
    "vec_cell_balance_cap" -> ((s, d) =>
      Similarity.cellBalance(Tables.embeddings(s, d), nCells = 1024)),
    // Vector-tier point-delete lifecycle (takedown/GDPR), oracle-bound: the
    // cached IVF layout gets a deterministic tombstone set (every 41st
    // vec_id — including the query vector itself, so the nearest hit at
    // d=0 is tombstoned and must vanish) at artifact-build time. Exact-
    // config search (probe ALL cells) must then equal brute-force top-k
    // over the corpus MINUS the deleted ids. Compaction parity and the
    // knnJoin/rangeSearch/ingest-gate behaviors are IvfIndexSpec-pinned.
    "vec_delete_search" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("ivfdel", d) { p =>
        graft.vector.IvfIndex.build(s, emb, p)
        graft.vector.IvfIndex.delete(s, p,
          emb.filter(col("vec_id") % 41 === 0).select("vec_id"))
      }
      val qv = emb.filter(col("vec_id") === 0L).select("embedding").head.getSeq[Float](0)
      graft.vector.IvfIndex.search(s, dir, qv, k = 10, nProbe = 8)
        .select(col("vec_id"), col("label"), col("dist_sq"))
    }),
    // Exact distributed covariance moments (the PCA/whitening front half —
    // the rotation stage FAISS applies before quantization): coordinates
    // quantize to floor(x·1e6) microunit longs, every cross-shuffle sum is
    // long arithmetic (the vec_kmeans_step discipline), one
    // map-side-combined aggregation over d(d+1)/2 keys. The d×d Jacobi
    // eigendecomposition consumes these exact sums on the driver
    // (PcaSpec pins it against a single-node reference bitwise).
    "vec_covariance" -> ((s, d) =>
      graft.vector.Pca.covarianceMicro(Tables.embeddings(s, d))),
    // The VECTOR gate's ingest decision oracle-bound (mm_phash_ingest's
    // sibling on the IvfIndex engine), in the probe-all configuration so
    // candidacy is total and the cosine tier is brute-force-replayable
    // (recall-independent, the vec_delete_search rationale): the batch
    // plants verbatim re-offers (cos = 1), SCALED copies (2v — cosine is
    // scale-invariant, the vector analog of a re-encode) twice for the
    // within-batch tier, first-dim-negated near twins (cos = 1 − 2v₁²/|v|²,
    // straddling the 0.95 threshold on this generator), and reversed
    // vectors as fresh content. Every construction is exact in both
    // engines (x+x, sign flip, permutation — no rounding anywhere).
    "vec_ivf_ingest" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("ivfgate", d)(p => graft.vector.IvfIndex.build(s, emb, p))
      def offers(off: Long, modCond: Long, vec: org.apache.spark.sql.Column) =
        emb.filter(col("vec_id") % modCond === 0)
          .select((col("vec_id") + off).as("vec_id"), col("label"), vec.as("embedding"))
      val doubled = transform(col("embedding"), x => x + x)
      val negFirst = transform(col("embedding"), (x, i) =>
        when(i === 0, -x).otherwise(x))
      val batch = offers(4000000L, 29L, col("embedding"))
        .unionByName(offers(5000000L, 58L, doubled))
        .unionByName(offers(6000000L, 58L, doubled))
        .unionByName(offers(7000000L, 87L, negFirst))
        .unionByName(offers(8000000L, 29L, reverse(col("embedding"))))
      graft.vector.IvfIndex.dedupIngest(s, dir, batch, threshold = 0.95, nProbe = 8)
        .orderBy(col("vec_id"))
    }),
    // ---- dedup + text analysis over documents (scale extensions) ----
    // The fixture corpus has no exact copies, so the HARNESS (not the
    // operator) unions a deterministic re-ingest (every 7th doc under a new
    // id) before calling the operator; the oracle SQL mirrors the same union.
    "doc_exact_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val reIngested = docs.filter(col("doc_id") % 7 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.exactDupGroups(docs.unionByName(reIngested))
    }),
    "doc_minhash_pairs" -> ((s, d) => Dedup.minhashDupPairs(Tables.documents(s, d))),
    // One-row executive dedup summary (data-card headline numbers).
    "doc_dedup_report" -> ((s, d) => Dedup.dedupReport(Tables.documents(s, d))),
    // Incremental-dedup BUILD, timed as its own entry: a fresh persisted
    // LSH index of the resident corpus per call, installed into the
    // artifact cache for the query twin. Returned artifact = the sizes
    // sidecar (per-doc distinct shingle counts) — md5-free and fully
    // SQL-expressible, so the oracle binds on the build itself.
    "doc_incr_dedup_build" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val dir = java.nio.file.Files.createTempDirectory("graft-q-lsh").toString + "/lsh"
      graft.text.LshIndex.build(s, Tables.documents(s, d), dir)
      artifactCache.putIfAbsent(s"lsh|$d", dir)
      // project the oracle-bound columns: the r13 sidecar layout adds a
      // bucket partition column and carries text_hash (md5 — not oracle
      // material here; the hash pipeline is pinned by the query twin)
      Parquet.read(s, s"$dir/sizes").select(col("doc_id"), col("n_sh"))
        .orderBy(col("doc_id"))
    }),
    // Incremental ingestion dedup QUERY: an arriving batch (every 10th doc
    // re-offered — half verbatim, half with a trailing perturbation)
    // dedups against the PERSISTED LSH index of the resident corpus —
    // served from the artifact cache, so the bench measures the amortized
    // query path the design argues for, not build+query. The oracle
    // mirrors the whole two-sided md5 pipeline, so the candidate sets
    // agree bit-for-bit. Nothing re-derives over the resident side.
    "doc_incr_dedup_query" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val batch = docs.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 2000000L).as("doc_id"),
          when(col("doc_id") % 20 === 0, col("text"))
            .otherwise(concat(col("text"), lit(" zz yy xx"))).as("text"))
      val dir = cachedArtifact("lsh", d)(p => graft.text.LshIndex.build(s, docs, p))
      graft.text.LshIndex.dedupBatch(s, dir, batch)
    }),
    // The FULL ingest gate, verdicts oracle-bound end to end (the build/
    // query twins above pin the pair reports; this pins the four-tier
    // DECISION itself): a crafted batch carries within-batch duplicate
    // twins, verbatim re-offers, suffix near-dups, resident-run SPLICES
    // (the winnow tier's prey) and fresh docs. Own artifact (one ingest
    // per JVM — Verify and Bench each call a query once), winnow tier on.
    // Every tier is md5-deterministic, so DuckDB replays the whole
    // decision procedure and the verdict column hashes cross-engine.
    "doc_incr_dedup_ingest" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      // The gate MUTATES its resident index, so it takes a PRIVATE COPY of
      // the pristine artifact doc_incr_dedup_build times and installs
      // (identical content by construction — same builder over the same
      // corpus). The recursive FS copy costs ~file IO, so BENCH charges
      // the one-time derivation to the build entry, not to this serving
      // decision (the vec_serve_build rationale).
      val dir = cachedArtifact("lshing", d) { p =>
        val src = cachedArtifact("lsh", d)(q => graft.text.LshIndex.build(s, docs, q))
        val conf = s.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.Path(src).getFileSystem(conf)
        org.apache.hadoop.fs.FileUtil.copy(fs, new org.apache.hadoop.fs.Path(src),
          fs, new org.apache.hadoop.fs.Path(p), false, conf)
        ()
      }
      val exact = docs.filter(col("doc_id") % 40 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), col("text"))
      val near = docs.filter(col("doc_id") % 40 === 10)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          concat(col("text"), lit(" zz yy xx")).as("text"))
      val splice = docs.filter(col("doc_id") % 40 === 20)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          expr("""concat(array_join(slice(split(text, ' '), 6, 20), ' '),
            | ' q', doc_id, 'a q', doc_id, 'b q', doc_id, 'c q', doc_id,
            | 'd q', doc_id, 'e q', doc_id, 'f q', doc_id, 'g q', doc_id, 'h')"""
            .stripMargin.replaceAll("\n", "")).as("text"))
      val fresh = docs.filter(col("doc_id") % 40 === 30)
        .select((col("doc_id") + 3000000L).as("doc_id"),
          expr("concat('u', doc_id, 'a u', doc_id, 'b u', doc_id, 'c u', " +
            "doc_id, 'd u', doc_id, 'e u', doc_id, 'f')").as("text"))
      val twin = docs.filter(col("doc_id") % 80 === 0)
        .select((col("doc_id") + 3500000L).as("doc_id"), col("text"))
      val batch = exact.unionByName(near).unionByName(splice)
        .unionByName(fresh).unionByName(twin)
      graft.text.LshIndex.ingestBatch(s, dir, batch, winnowMinShared = 3)
    }),
    // Winnowing fingerprints (Schleimer et al. SIGMOD'03 / MOSS): per-doc
    // sliding-window minima over k-gram md5s, pairs from one fingerprint-
    // keyed join — the LOCAL-overlap detector between SimHash (global
    // signature) and MinHash (whole-set similarity). minShared=3 keeps the
    // candidate set discriminative on this shared-vocab generator (25
    // pairs sf0.01 / 416 sf0.1).
    "doc_winnow_pairs" -> ((s, d) =>
      Dedup.winnowDupPairs(Tables.documents(s, d), minShared = 3)),
    // Near-dup clustering: LSH pairs -> connected components (min-label
    // propagation to fixpoint) -> (doc, cluster, size). Oracle = recursive
    // min-id closure over the SAME md5-deterministic pair set.
    "doc_dup_clusters" -> ((s, d) => Dedup.dupClusters(Tables.documents(s, d))),
    // Quality-aware canonical selection: each near-dup cluster keeps its
    // highest-n_chars member (doc_id asc tie-break) — the production
    // survivor rule (keep the BEST variant, not the crawl-order-first
    // one); singletons survive as themselves. Oracle replays the cluster
    // closure plus the same (n_chars desc, id) pick.
    "doc_dup_survivors" -> ((s, d) => Dedup.qualitySurvivors(Tables.documents(s, d))),
    // Integer PageRank over a harness-derived deterministic link graph
    // (d → d div 2, d → (3d+7) mod n — a tree spine plus a mixing ring):
    // the authority prior crawl curation ranks hosts/pages with (the
    // cc-webgraph practice). Fixed-point all-long arithmetic (contribution
    // = rank div out_degree), so THREE full rounds replay exactly in SQL.
    "doc_link_rank" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d).select(col("doc_id"))
      val n = docs.count()
      val edges = docs.select(col("doc_id").as("src"),
          expr("doc_id div 2").as("dst"))
        .unionByName(docs.select(col("doc_id").as("src"),
          ((col("doc_id") * 3 + 7) % n).as("dst")))
      graft.ops.Graph.linkRank(edges).withColumnRenamed("node", "doc_id")
    }),
    // Per-doc n-gram novelty: fraction of a doc's distinct 3-grams with
    // corpus df = 1 — the mosaic-duplication / unique-content-mass signal
    // (docs under 3 words drop out, the ngrams contract).
    "doc_novelty" -> ((s, d) => TextAnalysis.docNovelty(Tables.documents(s, d))),
    // Length-bucketed batching audit: quantile cuts on token counts,
    // per-bucket padding waste vs the single-global-bucket baseline
    // (bucket 0) — the dynamic-batching prep measurement. Cuts ride the
    // distributed exact-quantile engine (quantile_cont-bitwise).
    "doc_length_buckets" -> ((s, d) => Curation.lengthBuckets(Tables.documents(s, d))),
    // Composed training-corpus pipeline: language gate + quality gate +
    // cluster-loser drop, in production order (dedup before gates).
    "doc_clean_corpus" -> ((s, d) => TextAnalysis.cleanCorpus(Tables.documents(s, d))),
    "doc_simhash" -> ((s, d) => Dedup.simhash(Tables.documents(s, d))),
    // NOTE: Dedup.simhashDupPairs (Hamming-radius pair search) is
    // spec-level only (DedupSpec: probed ≡ brute-force definition). This
    // generator's shared-vocabulary corpus makes simhash signatures
    // concentrate (~240k hamming-0 pairs at sf0.1 even at 32 bits), so a
    // registered radius query would emit an O(n²)-sized noise set — the
    // operator ships with its algorithmic proof instead of a bench query;
    // the minhash family is the discriminative near-dup tier here.
    // Capped plan: blocks over 100 docs route through within-block LSH
    // banding; the oracle mirrors BOTH paths (md5-deterministic), so the
    // fallback's candidate set is reproduced bit-for-bit by DuckDB.
    "doc_blocked_jaccard" -> ((s, d) => Dedup.blockedJaccardPairsCapped(Tables.documents(s, d))),
    "doc_langid" -> ((s, d) => TextAnalysis.languageId(Tables.documents(s, d))),
    // Confusion audit of the marker heuristic vs the labeled lang column
    // — per-(label, prediction) counts and within-label rates.
    "doc_lang_confusion" -> ((s, d) => TextAnalysis.langConfusion(Tables.documents(s, d))),
    // Deterministic hash-threshold sampling / split assignment / per-group
    // cap — selection stages of the training pipeline (ops.Sampling).
    "doc_sample" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Sampling.hashSample(Tables.documents(s, d), col("doc_id"), "33333333")
        .select(col("doc_id"), col("lang"), col("source")).orderBy(col("doc_id"))
    }),
    "doc_splits" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      Sampling.assignSplits(Tables.documents(s, d), col("doc_id"))
        .select(col("doc_id"), col("split")).orderBy(col("doc_id"))
    }),
    "doc_rebalance" -> ((s, d) =>
      Sampling.capPerGroup(Tables.documents(s, d), "source", "doc_id", 50)),
    // Static data-mixture: 3 sources at 50/30/20% of a 2000-token budget —
    // every source's budget is below its corpus share at both shipped SFs,
    // so the truncation arm of the selection genuinely binds.
    "doc_mix" -> ((s, d) => Sampling.mixCorpus(Tables.documents(s, d),
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), 2000L)),
    // Epoch-upsampled mixture, budget 8000 @ maxEpochs 2: at sf0.01 src0
    // hits the epoch cap (2 full passes, remainder discarded), src1/src2
    // get one full pass + a partial; at sf0.1 every source is partial-only
    // — all three arms of the semantics exercised across the shipped SFs.
    "doc_mix_epochs" -> ((s, d) => Sampling.mixCorpusEpochs(Tables.documents(s, d),
      Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), 8000L)),
    // Token-balanced training-shard manifest in stable hashDraw order
    // (deterministic global shuffle + greedy 2000-token cuts): ~14 shards
    // at sf0.01, ~133 at sf0.1 — the export step's balance audit.
    "doc_shards" -> ((s, d) => Sampling.shardAssign(Tables.documents(s, d))),
    "doc_quality" -> ((s, d) => TextAnalysis.qualityScore(Tables.documents(s, d))),
    "doc_token_counts" -> ((s, d) => TextAnalysis.tokenCounts(Tables.documents(s, d))),
    "doc_fingerprint" -> ((s, d) => TextAnalysis.fingerprint(Tables.documents(s, d))),
    // k=30 over the 31-word generator vocabulary: roughly half the words
    // clear total/30 at each shipped SF, so the threshold genuinely
    // discriminates (and the rare words are far below it).
    "doc_heavy_hitters" -> ((s, d) => TextAnalysis.heavyHitters(Tables.documents(s, d))),
    // PMI-ranked bigram collocations over the bigram distribution's own
    // marginals — integer-exact ranking (⌊c_xy·N·10⁶/(c_x·c_y)⌋, Long
    // floor division in both engines; log is monotone so the ratio ranks
    // by PMI). min-count 5 bites (900 of 916 bigrams survive at sf0.01),
    // and the 31-word generator vocab makes the marginals genuinely
    // shared across pairs.
    "doc_collocations" -> ((s, d) => TextAnalysis.collocations(Tables.documents(s, d))),
    // Spearman rank agreement between two quality signals per source
    // (vocabulary richness vs document length) — the filter-agreement
    // audit, through the distributed average-rank engine (no per-source
    // single-reducer window; ties get the textbook tied-average rank).
    // Integer signals ⇒ every rank and sum is exact, and the registered
    // emission stays integer END TO END (corr_sign + rho2_ppm by DECIMAL
    // floor division over the exact sums): the earlier double-ρ emission
    // was bitwise-identical across engines on this host yet hash-fragile
    // by construction — a sqrt/÷ chain hangs the hash on cross-BUILD FP
    // reproducibility of the oracle engine. The double ρ itself is
    // RelationalSpec-pinned on the same sums. The SURFACE is int64/utf8
    // only: the rank sums cast DECIMAL(38,0) → BIGINT at the projection
    // (exact under the guards) — r11 proved a value-equal DECIMAL column
    // still hash-reds across the driver's two readers, so no registered
    // output may carry one.
    "doc_signal_corr" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val sig = Tables.documents(s, d).select(col("source"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("a"),
        col("n_chars").as("b"))
      Relational.rankCorrelationPpm(sig, "source", "a", "b")
    }),
    // Corpus-relative percentile selection per source ("keep the top 30%
    // by signal") — the generic gate whose LM-specific instance is the
    // CCNet 30/70 cut (doc_lm_gate). Exact integer pct_ppm from the
    // tied-average rank engine; boundary ties go in or out together in
    // both engines, so the keep flag hash-binds.
    "doc_quality_pct" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val sig = Tables.documents(s, d).select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
      Relational.percentileRanks(sig, "source", "n_tokens")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("pct_ppm"), col("keep"))
        .orderBy(col("doc_id"))
    }),
    // Per-source token shares + inverse-Simpson effective source count.
    "doc_source_balance" -> ((s, d) => TextAnalysis.sourceBalance(Tables.documents(s, d))),
    // Per-source document-length quantiles through the distributed exact
    // order-statistics engine (percentile ≡ quantile_cont bitwise).
    "doc_len_quantiles" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val lens = Tables.documents(s, d).select(col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"))
        // materialized once: the engine's three passes otherwise each
        // re-tokenize the corpus (18 scans in the r13 plan)
        .localCheckpoint(true)
      Relational.exactQuantilesDistributed(lens, "source", "n_tokens",
          Seq(0.25, 0.5, 0.75, 0.95))
        .groupBy(col("source")).agg(
          max(when(col("q") === 0.25, col("quantile"))).as("p25"),
          max(when(col("q") === 0.5, col("quantile"))).as("p50"),
          max(when(col("q") === 0.75, col("quantile"))).as("p75"),
          max(when(col("q") === 0.95, col("quantile"))).as("p95"))
        .orderBy(col("source"))
    }),
    // √-temperature source mixing (α=0.5 of the p^α smoothing rule):
    // budgets derived from the data, not hand-set weights.
    "doc_temperature_mix" -> ((s, d) =>
      Sampling.temperatureMix(Tables.documents(s, d), 2000L)),
    // Dense hourly grid with zero-fill + LOCF forward-fill — the
    // time-series regularization op; empty hours must appear.
    "ev_resample_hourly" -> ((s, d) => Events.resampleHourly(Tables.events(s, d))),
    // view → click → purchase conversion funnel, strictly-ordered steps;
    // users carry NULLs from their drop-out stage onward.
    "ev_funnel" -> ((s, d) =>
      Events.funnel(Tables.events(s, d), Seq("view", "click", "purchase"))),
    // The same funnel with a 12-hour conversion deadline per step —
    // long-dormant returns stop counting as conversions; the window
    // predicate is one exact integer microsecond comparison.
    "ev_funnel_windowed" -> ((s, d) =>
      Events.funnelWindowed(Tables.events(s, d), Seq("view", "click", "purchase"),
        maxGapMinutes = 720L)),
    // signup-week cohorts × any-activity retention by week offset.
    "ev_cohort_retention" -> ((s, d) => Events.cohortRetention(Tables.events(s, d))),
    // Exact trailing-7-day distinct users per calendar day.
    "ev_rolling_wau" -> ((s, d) => Events.rollingActiveUsers(Tables.events(s, d))),
    // Volume anomalies: hours >= 2σ from the type's hourly mean over the
    // gap-filled series (2σ so the driver-checked result is non-empty).
    "ev_anomalous_hours" -> ((s, d) => Events.anomalousHours(Tables.events(s, d), 2.0)),
    // Markov transition counts + conditional probabilities over per-user
    // event sequences (ts order, event_id tie-break).
    "ev_transition_matrix" -> ((s, d) => Events.transitionMatrix(Tables.events(s, d))),
    // Two-proportion z-test; arm = user_id parity (the deterministic
    // harness derivation, like the PII fixture); conversion = a purchase
    // over 150 — the threshold keeps both arms mixed at every SF, so the
    // statistic is non-degenerate wherever the driver checks it.
    "ev_ab_test" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      Events.abTestConversion(Tables.events(s, d),
        pmod(col("user_id"), lit(2L)),
        col("event_type") === "purchase" && col("value") > 150.0)
    }),
    // Trained linear quality classifier: "reads like src0" vs the rest,
    // integer fixed-point probability-difference weights over a top-300
    // vocab, map-only scoring. Oracle retrains the same model in SQL.
    "doc_quality_classifier" -> ((s, d) =>
      TextAnalysis.qualityClassifier(Tables.documents(s, d), "src0")),
    // Multi-class domain router (fastText-supervised posture): per-source
    // add-one-smoothed integer word scores over the shared top-300 vocab,
    // map-only argmax scoring with a margin audit column. Oracle retrains
    // and re-routes the same integer model in SQL, ties broken toward the
    // lexicographically smallest source in both engines.
    "doc_domain_classify" -> ((s, d) =>
      TextAnalysis.domainClassifier(Tables.documents(s, d))),
    // ROC-sweep calibration of the classifier's cutoff: the balanced-
    // accuracy-maximizing threshold with its confusion counts.
    "doc_threshold_calibration" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val scored = TextAnalysis.qualityClassifier(Tables.documents(s, d), "src0")
      TextAnalysis.calibrateThreshold(scored, col("source") === "src0")
    }),
    // Normalized dedup over a derived corpus: every 9th doc re-ingested
    // UPPERCASED under id+3e6 (the PII fixture pattern) — raw-exact dedup
    // is blind to these; the canonical form must catch them.
    // Cross-tier dedup agreement: every TEXT near-dup pair re-scored by
    // the EMBEDDING tier (ids align across the two tables) — in a real
    // pipeline, text-dup pairs the embedding space calls distant are
    // paraphrase-suspects or an embedder-quality flag.
    "doc_vec_agreement" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val emb = Tables.embeddings(s, d).select(col("vec_id"), col("embedding"))
      Dedup.minhashDupPairs(Tables.documents(s, d))
        .select(col("doc_a"), col("doc_b"), col("jaccard"))
        .join(emb.select(col("vec_id").as("doc_a"), col("embedding").as("ea")), "doc_a")
        .join(emb.select(col("vec_id").as("doc_b"), col("embedding").as("eb")), "doc_b")
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          graft.functions.VectorFunctions.cosine(col("ea"), col("eb")).as("cos_sim"))
        .withColumn("vec_agrees", col("cos_sim") >= 0.42)
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // Eval-hygiene audit: near-dup pairs STRADDLING train/val/test — the
    // contamination a random split leaks when duplicates exist. Composes
    // the verified MinHash pair generation with the stable split rule.
    "doc_split_leakage" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val splits = graft.ops.Sampling.assignSplits(
        docs.select(col("doc_id")), col("doc_id"))
      Dedup.minhashDupPairs(docs)
        .join(splits.select(col("doc_id").as("doc_a"), col("split").as("split_a")), "doc_a")
        .join(splits.select(col("doc_id").as("doc_b"), col("split").as("split_b")), "doc_b")
        .filter(col("split_a") =!= col("split_b"))
        .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"), col("jaccard"))
        .orderBy(col("doc_a"), col("doc_b"))
    }),
    // C4 line-level cleaning (Raffel 2020 §2.2) over harness-derived
    // re-lining (the corpus has no newlines — the fixture chunks every 7
    // words into a line and plants exactly what C4's rules target): every
    // (id+j) % 5 == 0 line loses its terminal punctuation, every
    // (id·31+j) % 13 == 0 line gains the word "javascript", every 97th doc
    // a "lorem ipsum" line, every 89th a curly-brace code line. The oracle
    // replays the re-lining AND the surgery in SQL — line verdicts, doc
    // verdicts and the re-assembled clean text all hash cross-engine.
    // CCNet paragraph-level corpus dedup over a harness-derived multi-line
    // fixture (the doc_c4_lines re-lining, no surgery) with planted
    // cross-doc boilerplate: every 7th doc a newsletter line, every 11th a
    // copyright line whose YEAR varies (2020 + doc_id%5) — five surface
    // forms, ONE normalized class, so the digit-stripping normalization
    // has teeth. The oracle replays re-lining, normalization,
    // first-occurrence choice and text rebuild in SQL.
    "doc_par_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ws = split(col("text"), " ")
      val lineArr = transform(
        sequence(lit(0), floor((size(ws) + lit(6)) / lit(7)).cast("int") - 1),
        j => array_join(slice(ws, j * 7 + 1, lit(7)), " "))
      val withNews = when(col("doc_id") % 7 === 0,
        concat(lineArr, array(lit("subscribe to our newsletter today."))))
        .otherwise(lineArr)
      val withCr = when(col("doc_id") % 11 === 0,
        concat(withNews, array(concat(lit("copyright "),
          (col("doc_id") % 5 + 2020).cast("string"),
          lit(" all rights reserved.")))))
        .otherwise(withNews)
      val lined = Tables.documents(s, d)
        .select(col("doc_id"), array_join(withCr, "\n").as("text"))
      Curation.paragraphDedup(lined)
    }),
    // Incremental paragraph dedup — the CCNet shard posture: the resident
    // half (even doc ids) seeds the persisted ParagraphIndex; the offered
    // shard (odd ids re-id'd above every resident id, plus verbatim
    // re-offers of every 10th resident doc) cuts against resident
    // paragraph hashes AND its own earlier occurrences. Re-offers rebuild
    // to NULL (every paragraph already owned by a resident). The oracle
    // replays the union with resident-priority first-occurrence choice.
    "doc_par_ingest" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ws = split(col("text"), " ")
      val lineArr = transform(
        sequence(lit(0), floor((size(ws) + lit(6)) / lit(7)).cast("int") - 1),
        j => array_join(slice(ws, j * 7 + 1, lit(7)), " "))
      val withNews = when(col("doc_id") % 7 === 0,
        concat(lineArr, array(lit("subscribe to our newsletter today."))))
        .otherwise(lineArr)
      val withCr = when(col("doc_id") % 11 === 0,
        concat(withNews, array(concat(lit("copyright "),
          (col("doc_id") % 5 + 2020).cast("string"),
          lit(" all rights reserved.")))))
        .otherwise(withNews)
      val linedAll = Tables.documents(s, d)
        .select(col("doc_id"), array_join(withCr, "\n").as("text"))
      val dir = cachedArtifact("paring", d) { p =>
        graft.text.ParagraphIndex.build(s, linedAll.filter(col("doc_id") % 2 === 0), p)
      }
      val freshShard = linedAll.filter(col("doc_id") % 2 === 1)
        .select((col("doc_id") + 4000000L).as("doc_id"), col("text"))
      val reoffers = linedAll.filter(col("doc_id") % 10 === 0)
        .select((col("doc_id") + 4500000L).as("doc_id"), col("text"))
      graft.text.ParagraphIndex.ingestBatch(s, dir, freshShard.unionByName(reoffers))
    }),
    // Keyword plants alternate real-world capitalizations ("JavaScript",
    // "Lorem Ipsum") with the lowercase forms — the C4 keyword rules match
    // case-insensitively (Raffel 2020 §2.2 lowercases before matching),
    // and the mixed-case plants are what give that teeth here.
    "doc_c4_lines" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val ws = split(col("text"), " ")
      val lineArr = transform(
        sequence(lit(0), floor((size(ws) + lit(6)) / lit(7)).cast("int") - 1),
        j => concat(
          array_join(slice(ws, j * 7 + 1, lit(7)), " "),
          when((col("doc_id") * 31 + j) % 13 === 0,
            when((col("doc_id") + j) % 2 === 0, " JavaScript").otherwise(" javascript"))
            .otherwise(""),
          when((col("doc_id") + j) % 5 === 0, "").otherwise(".")))
      val withLorem = when(col("doc_id") % 97 === 0,
        concat(lineArr, array(
          when(col("doc_id") % 194 === 0, lit("Lorem Ipsum dolor sit amet."))
            .otherwise(lit("lorem ipsum dolor sit amet.")))))
        .otherwise(lineArr)
      val withBrace = when(col("doc_id") % 89 === 0,
        concat(withLorem, array(lit("function() { return 1; }."))))
        .otherwise(withLorem)
      val lined = Tables.documents(s, d)
        .select(col("doc_id"), array_join(withBrace, "\n").as("text"))
      Curation.c4LineClean(lined)
    }),
    // Markup stripping over harness-derived HTML wrapping (the
    // doc_pii_redact fixture pattern): tags, entities, boilerplate div on
    // every 3rd doc — the oracle replays wrap + strip in SQL, so the
    // RE2-safe strip semantics bind cross-engine.
    "doc_strip_markup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val wrapped = Tables.documents(s, d).select(col("doc_id"), concat(
        lit("<html><body><p id=\""), col("doc_id"), lit("\">"),
        expr("replace(text, ' the ', ' &amp; the ')"),
        lit("</p>"),
        when(col("doc_id") % 3 === 0, "<div>footer boilerplate</div>").otherwise(""),
        lit("</body></html>")).as("text"))
      Curation.stripMarkup(wrapped)
    }),
    // Group-aware split REPAIR — closes the leak doc_split_leakage
    // measures: every near-dup cluster moves atomically to its min-id
    // representative's hash-assigned split; singletons keep their own.
    // DedupSpec asserts the repaired assignment leaks zero pairs.
    "doc_split_repair" -> ((s, d) =>
      Sampling.repairSplitLeakage(Tables.documents(s, d))),
    "doc_norm_dedup" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val variants = docs.filter(col("doc_id") % 9 === 0)
        .select((col("doc_id") + 3000000L).as("doc_id"), upper(col("text")).as("text"))
      TextAnalysis.normalizedDupGroups(
        docs.select(col("doc_id"), col("text")).unionByName(variants))
    }),
    // Conjunctive keyword search over two mid-frequency vocabulary words.
    "doc_search" -> ((s, d) =>
      TextAnalysis.searchDocs(Tables.documents(s, d), Seq("spark", "join"))),
    // Exact contiguous-phrase search; "fast table" hits 18 docs at sf0.01
    // / 273 at sf0.1 (max 2 occurrences), so the positional test, the
    // overlap counting, AND the top-k cut all have teeth at both SFs.
    "doc_phrase_search" -> ((s, d) =>
      TextAnalysis.phraseSearch(Tables.documents(s, d), Seq("fast", "table"))),
    // Scaled-integer tf-idf disjunctive retrieval over one mid-frequency
    // and one rare term — the idf weighting must dominate for the ranking
    // to differ from raw tf, which is what the oracle then checks.
    "doc_tfidf_search" -> ((s, d) =>
      TextAnalysis.tfidfSearch(Tables.documents(s, d), Seq("table", "spark"))),
    // Hybrid lexical+dense retrieval fused with integer-exact RRF: the
    // tf-idf top-20 and the cosine-kNN top-20 (query = vec 0's embedding)
    // fuse by floored 10^12/(60+rank) LONG sums — both arms and the
    // fusion replay exactly in SQL, so the whole hybrid ranking hashes
    // cross-engine (a float RRF would not).
    "doc_hybrid_search" -> ((s, d) =>
      TextAnalysis.hybridSearch(Tables.documents(s, d), Tables.embeddings(s, d),
        Seq("table", "spark"))),
    // Cross-source 4-gram leakage matrix over all C(20,2) source pairs.
    "doc_source_overlap" -> ((s, d) =>
      TextAnalysis.sourceOverlap(Tables.documents(s, d))),
    // Prefix-filtered all-pairs Jaccard at tau = 1/4 over 3-gram shingles:
    // finds the same 25-pair near-dup population as doc_minhash_pairs at
    // sf0.01 (256 at sf0.1) but with a lossless-filter contract; the
    // oracle is the straight all-pairs definition, independent of the
    // prefix-filter derivation it checks.
    "doc_prefix_jaccard" -> ((s, d) =>
      Dedup.prefixJaccardPairs(Tables.documents(s, d))),
    // Exact substring dedup (Lee et al. 2021): every duplicated 8-token
    // span keeps only its global first occurrence; later occurrences are
    // cut out and the text rebuilt. The removal complement of the
    // doc_span_dup measurement.
    "doc_span_removal" -> ((s, d) =>
      Curation.removeDupSpans(Tables.documents(s, d))),
    // Inverted-index-served conjunctive search: same contract and terms
    // as doc_search, but answered from the persisted posting-list layout
    // (the oracle binds the INDEX path to the raw-corpus definition).
    "doc_inverted_search" -> ((s, d) => {
      val dir = cachedArtifact("invidx", d) { p =>
        graft.text.InvertedIndex.build(s, Tables.documents(s, d), p)
      }
      graft.text.InvertedIndex.search(s, dir, Seq("spark", "join"))
    }),
    // Index build + df serving: times a FRESH posting build (artifact
    // cache install), then reads document frequencies for a term list
    // back off the built layout — content pinned by the raw-corpus oracle.
    "doc_inverted_build" -> ((s, d) => {
      val dir = java.nio.file.Files.createTempDirectory("graft-invidx-fresh")
        .toString + "/idx"
      graft.text.InvertedIndex.build(s, Tables.documents(s, d), dir)
      artifactCache.put(s"invidx|$d", dir)
      graft.text.InvertedIndex.docFreq(s, dir,
        Seq("spark", "join", "table", "fast", "merge"))
    }),
    // One-pass per-source audit card (docs/tokens/chars/lang mix/exact-dup
    // rate) — the datasheet table a corpus release ships.
    "doc_corpus_card" -> ((s, d) => TextAnalysis.corpusCard(Tables.documents(s, d))),
    // Bucketed-snapshot CDC: init from the corpus, then ONE batch that
    // updates every 10th doc, inserts a copy of every 25th under id+1e6,
    // and deletes every 97th — only dirty buckets rewritten (spec-pinned);
    // the final snapshot must equal the declarative merge the oracle runs.
    "doc_snapshot_upsert" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-q-snap").toString + "/s"
      graft.sources.SnapshotStore.init(s, docs, dir)
      val ups = docs.filter(col("doc_id") % 10 === 0)
          .withColumn("text", concat(col("text"), lit(" updated")))
        .unionByName(docs.filter(col("doc_id") % 25 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      val dels = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"))
      graft.sources.SnapshotStore.upsert(s, dir, ups, dels)
      graft.sources.SnapshotStore.read(s, dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
        .orderBy(col("doc_id"))
    }),
    // Versioned twin of the same batch: immutable files + atomic manifest
    // commits, so version 1 stays byte-stable under the upsert and both
    // versions are served from one store — the time-travel read the
    // mutable SnapshotStore documents as needing a table format. Output =
    // v1 ∪ v2 tagged by version; oracle = the corpus itself (v1) plus the
    // declarative merge (v2).
    "doc_snapshot_timetravel" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graft-q-vstore").toString + "/s"
      val v1 = graft.sources.VersionedStore.init(s, docs, dir)
      val ups = docs.filter(col("doc_id") % 10 === 0)
          .withColumn("text", concat(col("text"), lit(" updated")))
        .unionByName(docs.filter(col("doc_id") % 25 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L))
      val dels = docs.filter(col("doc_id") % 97 === 0).select(col("doc_id"))
      val v2 = graft.sources.VersionedStore.upsert(s, dir, ups, dels)
      graft.sources.VersionedStore.read(s, dir, Some(v1)).withColumn("version", lit(1L))
        .unionByName(
          graft.sources.VersionedStore.read(s, dir, Some(v2)).withColumn("version", lit(2L)))
        .select(col("version"), col("doc_id"), col("text"), col("lang"),
          col("source"), col("n_chars"))
        .orderBy(col("version"), col("doc_id"))
    }),
    // Target corpus = every 97th doc (the decontam holdout pattern);
    // corpus side = the rest. Top 50 by integer-exact relevance density.
    "doc_target_select" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      TextAnalysis.selectByRelevance(
        docs.filter(col("doc_id") % 97 =!= 0),
        docs.filter(col("doc_id") % 97 === 0), 50)
    }),
    // 32-token windows advancing by 24 (overlapping pretraining chunks);
    // the generator's ~50-word docs split into 1-2 windows each, so both
    // the single-chunk and tail-window arms fire at every SF.
    "doc_chunks" -> ((s, d) => Curation.chunkDocs(Tables.documents(s, d))),
    // Composed ingest pipeline over a derived crawl snapshot: every 10th
    // doc re-ingested verbatim under id+1000000 (exact-dup tier teeth),
    // every 97th doc held out as the benchmark (decontam teeth; a
    // re-ingested copy of a benchmark doc lands in the corpus and must
    // die at decontamination, not dedup), then lang/quality gate and the
    // doc_mix 50/30/20 budgets over the survivors.
    "doc_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      val reIngested = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      val all = docs.unionByName(reIngested)
      Curation.curationPipeline(
        all.filter(col("doc_id") % 97 =!= 0),
        all.filter(col("doc_id") % 97 === 0),
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2), 2000L)
    }),
    // ---- corpus curation (privacy / decontamination / repetition / packing) ----
    // The corpus has no PII, so the HARNESS (not the operator) derives a
    // PII-bearing text column deterministically from doc_id — the same
    // fixture-injection pattern as doc_exact_dedup; the oracle mirrors the
    // derivation. The operator itself (Curation.redactPii) takes any text.
    "doc_pii_redact" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      val docs = Tables.documents(s, d)
      val text2 = when(col("doc_id") % 7 === 0,
          concat(col("text"), lit(" reach me at user"), col("doc_id").cast("string"),
            lit("@example.com today")))
        .when(col("doc_id") % 7 === 1,
          concat(col("text"), lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0"), lit(" now")))
        .when(col("doc_id") % 7 === 2,
          concat(col("text"), lit(" server at 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 7) % 256).cast("string"), lit(" port")))
        .otherwise(col("text"))
      Curation.redactPii(docs.withColumn("text", text2))
        .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
          md5(col("redacted")).as("redacted_md5"))
        .orderBy(col("doc_id"))
    }),
    // Benchmark set = every 97th doc (the held-out eval suite); report is
    // corpus docs sharing any word 4-gram with it. 4 is the discriminative
    // width on this generator (727 hits at sf0.1; 8-grams find nothing,
    // 3-grams flag a third of the corpus).
    "doc_decontam" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Curation.contaminatedDocs(
        docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))
    }),
    // Same contamination semantics, bloom-guarded plan (the
    // too-many-benchmarks-to-broadcast regime): output must be EXACT, so
    // the same oracle binds.
    "doc_decontam_bloom" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Curation.contaminatedDocsBloom(
        docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))
    }),
    // Span-surgery removal form (GPT-3 appendix C): cut the matched
    // window + margin out of contaminated docs, keep clean pieces
    // >= minPiece tokens. Same harness benchmark split as doc_decontam.
    "doc_decontam_spans" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val docs = Tables.documents(s, d)
      Curation.decontaminateSpans(
        docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))
    }),
    "doc_repetition" -> ((s, d) => Curation.repetitionSignals(Tables.documents(s, d))),
    // Span-level duplication vs the WHOLE corpus (RefinedWeb-style): the
    // share of each doc's 4-gram occurrences also present in another doc.
    "doc_span_dup" -> ((s, d) => Curation.spanDupFractions(Tables.documents(s, d))),
    "doc_pack" -> ((s, d) => Curation.packSequences(Tables.documents(s, d))),
    // Vocab of 16 against this generator's ~31 distinct words so the UNK
    // path genuinely exercises (a production vocab is just a bigger map).
    "doc_tokenize" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.tokenize(docs, Curation.buildVocab(docs, 16))
    }),
    // Vocabulary-coverage / fertility audit per source: OOV share under the
    // same 16-word frequency vocab as doc_tokenize (small enough that OOV
    // genuinely exercises), chars-per-token fertility.
    "doc_oov_rate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Curation.vocabCoverage(docs, Curation.buildVocab(docs, 16))
    }),
    "doc_quality_gate" -> ((s, d) => TextAnalysis.qualityGate(Tables.documents(s, d))),
    // Gopher hand-rule bundle (published thresholds, integer-exact rule
    // comparisons); stop-word list = this generator's function words so
    // the stop rule genuinely splits the corpus.
    "doc_gopher_gate" -> ((s, d) =>
      TextAnalysis.gopherGate(Tables.documents(s, d),
        stopwords = Seq("the", "a", "table", "value"))),
    // CCNet-style pruned-bigram LM (stupid backoff, fixed-point ppm),
    // build/serve split (the vec_pq_build precedent): doc_lm_build times a
    // FRESH train + persist per call and returns the model table itself
    // (kind/key/cnt, a total order — the oracle replays the prune in SQL);
    // the three serving queries below read ONLY the persisted artifact.
    // vocab 24 / bigram cap 300 both BIND against this generator's ~31-word
    // vocabulary, so the deterministic prune order genuinely exercises.
    "doc_lm_build" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val dir = java.nio.file.Files.createTempDirectory("graft-q-nglm").toString + "/idx"
      graft.text.NgramLm.buildAt(s, Tables.documents(s, d), dir)
      artifactCache.putIfAbsent(s"ngramlm|$d", dir)
      Parquet.read(s, s"$dir/model").orderBy(col("kind"), col("key"))
    }),
    // Serve-from-artifact scoring — no retraining in the query. The
    // transcendental ppl column is spec-pinned (`NgramLmSpec`) and dropped
    // here — the oracle hashes the integer surface (the BM25/tfidf
    // precedent). The oracle replays train+score in SQL; content of the
    // persisted model is thereby verified end-to-end.
    "doc_lm_score" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = cachedArtifact("ngramlm", d)(p => graft.text.NgramLm.buildAt(s, docs, p))
      graft.text.NgramLm.scoreDocsFrom(s, docs, dir).drop("ppl")
    }),
    // CCNet head/middle/tail cut at 30%/70% per language on the integer
    // fit, deterministic tie-break — the keep-the-head curation gate.
    "doc_lm_buckets" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = cachedArtifact("ngramlm", d)(p => graft.text.NgramLm.buildAt(s, docs, p))
      graft.text.NgramLm.perplexityBucketsFrom(s, docs, dir)
    }),
    // Per-source LM quality audit (the CCNet per-domain perplexity table):
    // exact integer roll-up of the per-doc fit signals by source.
    "doc_lm_source_audit" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = cachedArtifact("ngramlm", d)(p => graft.text.NgramLm.buildAt(s, docs, p))
      graft.text.NgramLm.lmSourceAuditFrom(s, docs, dir)
    }),
    // The OFFLINE calibration the streaming gate consumes: per-language
    // fit-ppm floors of the head (p30) and head∪middle (p70) buckets —
    // what curatedCorpusIngest's fixed minFitPpm threshold is derived
    // from. Serve-from-artifact like the other doc_lm_* queries.
    "doc_lm_cutoffs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = cachedArtifact("ngramlm", d)(p => graft.text.NgramLm.buildAt(s, docs, p))
      graft.text.NgramLm.lmCutoffsFrom(s, docs, dir)
    }),
    // The CCNet SELECTION applied: per-doc head/middle/tail labels from
    // the persisted model's fit, tail dropped — the gate a curation run
    // feeds downstream, oracle-bound per document.
    "doc_lm_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = cachedArtifact("ngramlm", d)(p => graft.text.NgramLm.buildAt(s, docs, p))
      graft.text.NgramLm.lmGateFrom(s, docs, dir)
    }),
    // End-of-pipeline assembly: language + quality + pack + embedding norm
    // in ONE plan (per-doc signals fuse into one scan; the embeddings join
    // is the only corpus-corpus shuffle).
    "doc_assemble" -> ((s, d) =>
      Curation.assembleExamples(Tables.documents(s, d), Tables.embeddings(s, d))),
    "mm_media_meta" -> ((s, d) => graft.multimodal.Multimodal.mediaMeta(Tables.documents(s, d))),
    "mm_frame_sample" -> ((s, d) => graft.multimodal.Multimodal.frameSamples(Tables.documents(s, d))),
    // Content-addressed dedup audit over the media payloads (CAS model):
    // copies per content hash, bytes saved per modality.
    "mm_dedup_stats" -> ((s, d) => graft.multimodal.Multimodal.dedupStats(Tables.documents(s, d))),
    // Perceptual (pixel-level) image near-dup — what byte-exact
    // mm_dedup_stats misses: the same picture re-encoded. HARNESS builds a
    // deterministic 16×16 gray PNG per doc (pixel(x,y) = (doc_id·31 + 7x +
    // 13y) mod 256) and RE-ENCODES every 9th doc's pixels under a new id
    // with a different PNG filter + deflate level (byte-different file,
    // identical pixels). The operator decodes REAL PNG bytes (Inflater +
    // scanline-filter reconstruction) and groups by integer-exact aHash;
    // the oracle recomputes the hash in SQL from the pixel DEFINITION —
    // binding the whole decode+downsample+hash path cross-engine.
    "mm_phash_dedup" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.{JpegCodec, Multimodal, PngCodec}
      val ids = Tables.documents(s, d)
        .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
      val media = ids.flatMap { id =>
        def px(src: Long): Array[Int] =
          Array.tabulate(256)(p => ((src * 31 + (p % 16) * 7 + (p / 16) * 13) % 256).toInt)
        // per-8×8-flat EVEN pixels: the provably-exact JPEG class (DC-only
        // blocks, 16 | 8·(v−128)), so the oracle can replay decoded pixels
        def blocky(src: Long): Array[Int] = Array.tabulate(256) { p =>
          (((src * 31 + (p % 16 / 8) * 7 + (p / 16 / 8) * 13) % 128) * 2).toInt
        }
        val base = Multimodal.MediaRow(id, "image", PngCodec.encodeGray(px(id), 16, 16))
        val pngTwin =
          if (id % 9 == 0) Seq(Multimodal.MediaRow(id + 2000000L, "image",
            PngCodec.encodeGray(px(id), 16, 16, filterType = 1, level = 9)))
          else Seq.empty
        // cross-FORMAT twins: identical pixels once as PNG, once as real
        // baseline JPEG — byte-unrelated containers, one perceptual group
        val crossFormat =
          if (id % 21 == 0)
            Seq(Multimodal.MediaRow(id + 6000000L, "image",
                PngCodec.encodeGray(blocky(id), 16, 16)),
              Multimodal.MediaRow(id + 7000000L, "image",
                JpegCodec.encodeGray(blocky(id), 16, 16)))
          else Seq.empty
        base +: (pngTwin ++ crossFormat)
      }
      Multimodal.phashDupGroups(media)
    }),
    // Hamming-radius perceptual NEAR pairs (probe construction, radius ≤2),
    // oracle-bound on a deterministic SAMPLE (every 7th doc) so the DuckDB
    // brute-force pair definition stays tractable: every 13th sampled doc
    // gets a twin with ONE pixel bumped and a different PNG filter — close
    // in hash space but byte- and (usually) hash-different. The oracle
    // computes aHashes from the pixel definition and brute-forces all
    // sampled pairs at Hamming ≤ 2; the operator must find exactly those
    // via the probe join over real decoded PNGs.
    "mm_phash_near" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.{JpegCodec, Multimodal, PngCodec}
      val ids = Tables.documents(s, d)
        .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
        .filter((id: Long) => id % 7 == 0)
      val media = ids.flatMap { id =>
        def px(src: Long, bump: Int): Array[Int] =
          Array.tabulate(256) { p =>
            ((src * 31 + (p % 16) * 7 + (p / 16) * 13 +
              (if (p == 0) bump else 0)) % 256).toInt
          }
        // the provably-exact JPEG pixel class (see mm_phash_dedup)
        def blocky(src: Long): Array[Int] = Array.tabulate(256) { p =>
          (((src * 31 + (p % 16 / 8) * 7 + (p / 16 / 8) * 13) % 128) * 2).toInt
        }
        val base = Multimodal.MediaRow(id, "image", PngCodec.encodeGray(px(id, 0), 16, 16))
        val bumped =
          if (id % 13 == 0) Seq(Multimodal.MediaRow(id + 3000000L, "image",
            PngCodec.encodeGray(px(id, 6), 16, 16, filterType = 1)))
          else Seq.empty
        // cross-format Hamming-0 pair: identical pixels as PNG and as JPEG
        val crossFormat =
          if (id % 77 == 0)
            Seq(Multimodal.MediaRow(id + 6000000L, "image",
                PngCodec.encodeGray(blocky(id), 16, 16)),
              Multimodal.MediaRow(id + 7000000L, "image",
                JpegCodec.encodeGray(blocky(id), 16, 16)))
          else Seq.empty
        base +: (bumped ++ crossFormat)
      }
      Multimodal.phashNearPairs(media)
    }),
    // The perceptual ingest DECISION oracle-bound (the doc_incr_dedup_ingest
    // pattern applied to the image gate): residents = every 23rd doc's
    // deterministic 16×16 PNG; the offer batch plants verbatim re-encodes
    // (new filter bytes, same pixels → near_dup at Hamming 0), within-batch
    // identical twins (min-id survives, the other is batch_dup), one-pixel
    // near twins, fresh images and garbage payloads. DuckDB replays the
    // whole four-tier decision (decodability → batch min-id groups → probe
    // Hamming ≤ 2 vs residents → ingested) from the pixel definitions and
    // the verdict column hashes at both SFs.
    "mm_phash_ingest" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.{Multimodal, PhashIndex, PngCodec}
      def pxA(src: Long, bump: Int): Array[Int] = Array.tabulate(256) { p =>
        ((src * 31 + (p % 16) * 7 + (p / 16) * 13 +
          (if (p == 0) bump else 0)) % 256).toInt
      }
      def pxB(src: Long): Array[Int] = Array.tabulate(256) { p =>
        ((src * 41 + (p % 16) * 9 + (p / 16) * 5 + 1) % 256).toInt
      }
      def pxC(src: Long): Array[Int] = Array.tabulate(256) { p =>
        ((src * 57 + (p % 16) * 11 + (p / 16) * 17 + 3) % 256).toInt
      }
      val ids = Tables.documents(s, d)
        .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
        .filter((id: Long) => id % 23 == 0)
      val dir = cachedArtifact("phashgate", d) { p =>
        PhashIndex.build(s, ids.map(id =>
          Multimodal.MediaRow(id, "image", PngCodec.encodeGray(pxA(id, 0), 16, 16))), p)
      }
      val batch = ids.flatMap { id =>
        def img(off: Long, px: Array[Int], filterType: Int = 0) =
          Multimodal.MediaRow(id + off, "image",
            PngCodec.encodeGray(px, 16, 16, filterType = filterType))
        val reEnc = if (id % 46 == 0) Seq(img(4000000L, pxA(id, 0), filterType = 1)) else Seq.empty
        val twins = if (id % 92 == 0) Seq(img(5000000L, pxB(id)), img(6000000L, pxB(id))) else Seq.empty
        val near = if (id % 69 == 0) Seq(img(7000000L, pxA(id, 6))) else Seq.empty
        val garbage = if (id % 115 == 0)
          Seq(Multimodal.MediaRow(id + 9000000L, "image", s"junk$id".getBytes)) else Seq.empty
        (reEnc ++ twins ++ near) ++ Seq(img(8000000L, pxC(id))) ++ garbage
      }
      PhashIndex.dedupIngest(s, dir, batch)
    }),
    // Perceptual AUDIO near-dup (Haitsma–Kalker sign hash over lag-comb
    // band energies, integer-exact): every 11th doc renders to a REAL
    // PCM16 WAV from a deterministic sample definition; every 33rd gets a
    // re-encoded twin (stereo-duplicated channels + an extra LIST chunk —
    // byte-different container, identical signal → Hamming 0), every 44th
    // a one-sample-bumped near twin. The oracle recomputes fingerprints
    // from the sample definition and brute-forces Hamming ≤ 2; the
    // operator must find exactly those pairs via the probe join over real
    // decoded containers.
    "mm_audio_near" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.{Multimodal, WavCodec}
      val ids = Tables.documents(s, d)
        .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
        .filter((id: Long) => id % 11 == 0)
      val media = ids.flatMap { id =>
        // the near twin dips TWO adjacent samples: a uniform one-sample
        // shift cancels in the lag-comb differences (hamming 0), the
        // pairwise dip flips a couple of frame-8 sign bits
        def samples(bumpAt: Int): Array[Int] = Array.tabulate(576) { i =>
          val dip = if (bumpAt >= 0 && (i == bumpAt || i == bumpAt + 1)) 1L else 0L
          (((id * 37L + i.toLong * 11L - dip) % 4096L) - 2048L).toInt
        }
        val base = Multimodal.MediaRow(id, "audio",
          WavCodec.encodePcm16(samples(-1), 8000, 1))
        val reEnc =
          if (id % 33 == 0) Seq(Multimodal.MediaRow(id + 4000000L, "audio",
            WavCodec.encodePcm16(samples(-1).flatMap(v => Array(v, v)), 8000, 2,
              extraChunk = true)))
          else Seq.empty
        val bumped =
          if (id % 44 == 0) Seq(Multimodal.MediaRow(id + 5000000L, "audio",
            WavCodec.encodePcm16(samples(570), 8000, 1)))
          else Seq.empty
        base +: (reEnc ++ bumped)
      }
      Multimodal.audioNearPairs(media)
    }),
    // Perceptual VIDEO near-dup (Haitsma–Kalker sign hash over the
    // spatio-temporal block-luminance grid, integer-exact): every 17th doc
    // renders to a REAL uncompressed-DIB AVI (12×12 × 18 frames) from a
    // deterministic pixel definition; every 51st gets a re-containered
    // twin (8-bit palettized, top-down rows, junk chunk — byte-different
    // container, identical frames → Hamming 0), every 68th a twin with one
    // spatial cell of the last time segment perturbed. The oracle
    // recomputes fingerprints from the pixel definition and brute-forces
    // Hamming ≤ 2; the operator must find exactly those pairs via the
    // probe join over real decoded containers.
    "mm_video_near" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.{AviCodec, Multimodal}
      val ids = Tables.documents(s, d)
        .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
        .filter((id: Long) => id % 17 == 0)
      val media = ids.flatMap { id =>
        def frames(bump: Int): Array[Array[Int]] = Array.tabulate(18) { f =>
          Array.tabulate(144) { p =>
            val x = p % 12; val y = p / 12
            val b = if (bump != 0 && f >= 16 && x >= 4 && x < 8 && y >= 4 && y < 8) bump else 0
            ((id * 31L + f.toLong * f * 7L + x * 5L + y * 3L + b) % 256L).toInt
          }
        }
        val base = Multimodal.MediaRow(id, "video",
          AviCodec.encodeGray(frames(0), 12, 12))
        val reEnc =
          if (id % 51 == 0) Seq(Multimodal.MediaRow(id + 8000000L, "video",
            AviCodec.encodeGray(frames(0), 12, 12, bits = 8, topDown = true,
              extraChunk = true)))
          else Seq.empty
        val bumped =
          if (id % 68 == 0) Seq(Multimodal.MediaRow(id + 9000000L, "video",
            AviCodec.encodeGray(frames(101), 12, 12)))
          else Seq.empty
        base +: (reEnc ++ bumped)
      }
      Multimodal.videoNearPairs(media)
    }),
    // Shot-boundary detection over REAL decoded AVIs: every 31st doc
    // renders an 18-frame video; every 62nd plants HARD CUTS at frames 6
    // and 12 (the pixel definition switches per segment), the rest are
    // single-scene. Segmentation is row-local inside the decode pass
    // (map-only); the oracle replays per-frame aHashes from the pixel
    // definitions, thresholds consecutive-frame Hamming, and rebuilds the
    // shot spans with a running cut count.
    "mm_video_shots" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.{AviCodec, Multimodal}
      val ids = Tables.documents(s, d)
        .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
        .filter((id: Long) => id % 31 == 0)
      val media = ids.map { id =>
        val cuts = id % 62 == 0
        // within a scene: a wrap-free base + tiny per-frame drift (a global
        // shift the mean-relative hash ignores); at a cut the GRADIENT
        // DIRECTION flips — spatial structure changes, which is what a
        // perceptual hash keys on (a pure brightness jump would not)
        val frames = Array.tabulate(18) { f =>
          val seg = if (!cuts) 0 else if (f < 6) 0 else if (f < 12) 1 else 2
          Array.tabulate(144) { p =>
            val x = p % 12; val y = p / 12
            val grad = seg match {
              case 0 => x * 5 + y * 3
              case 1 => (11 - x) * 5 + y * 3
              case _ => x * 5 + (11 - y) * 3
            }
            (((id * 31L + seg * 97L) % 128L) + (f % 8) + grad).toInt
          }
        }
        Multimodal.MediaRow(id, "video", AviCodec.encodeGray(frames, 12, 12))
      }
      Multimodal.videoShots(media).toDF()
        .orderBy(org.apache.spark.sql.functions.col("doc_id"),
          org.apache.spark.sql.functions.col("shot_no"))
    }),
    // Cross-MODAL still search: every 41st doc is an image (12×12 PNG of a
    // per-src pixel pattern); every 82nd doc ALSO renders a video whose
    // MIDDLE shot shows exactly that image as a still (flanked by two
    // gradient scenes — the cuts segment it), so the shot-2 keyframe
    // collides with the image at Hamming 0. The operator must find exactly
    // the (image, video, shot) matches through one probe join over real
    // decoded PNGs and AVIs; the oracle replays image hashes, per-frame
    // video hashes, the cut segmentation, and the cross-modality pairs.
    "mm_still_pairs" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.{AviCodec, Multimodal, PngCodec}
      def pImg(src: Long): Array[Int] = Array.tabulate(144) { p =>
        ((src * 31 + (p % 12) * 7 + (p / 12) * 13) % 256).toInt
      }
      val ids = Tables.documents(s, d)
        .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
        .filter((id: Long) => id % 41 == 0)
      val media = ids.flatMap { id =>
        val img = Multimodal.MediaRow(id, "image", PngCodec.encodeGray(pImg(id), 12, 12))
        val vid = if (id % 82 == 0) {
          val frames = Array.tabulate(18) { f =>
            if (f >= 6 && f < 12) pImg(id)
            else Array.tabulate(144) { p =>
              val x = p % 12; val y = p / 12
              if (f < 6) (((id * 47 + 13) % 128) + (11 - x) * 5 + y * 3 + f % 4).toInt
              else (((id * 71 + 29) % 128) + x * 5 + (11 - y) * 3 + f % 4).toInt
            }
          }
          Seq(Multimodal.MediaRow(id + 2000000L, "video",
            AviCodec.encodeGray(frames, 12, 12)))
        } else Seq.empty
        img +: vid
      }
      Multimodal.videoStillOfImagePairs(media)
    }),
    // The AUDIO gate's ingest decision oracle-bound — completing the
    // verdict-level oracle family across every gate engine and modality
    // (text LshIndex, image/audio/video Hash64Index, vector IvfIndex):
    // re-mastered residents (stereo-duplicated + extra LIST chunk) die at
    // Hamming 0, within-batch identical signals keep min-id, two-sample
    // dips land within the probe radius, garbage is undecodable.
    "mm_audio_ingest" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.{AudioHashIndex, Multimodal, WavCodec}
      def sm(src: Long, kind: Int): Array[Int] = Array.tabulate(576) { i =>
        val v = kind match {
          case 0 => (src * 37L + i.toLong * 11L) % 4096L
          case 2 => (src * 53L + i.toLong * 7L + 3L) % 4096L
          case 3 =>
            val dip = if (i == 570 || i == 571) 1L else 0L
            (src * 37L + i.toLong * 11L - dip) % 4096L
          case _ => (src * 61L + i.toLong * 13L + 5L) % 4096L
        }
        (v - 2048L).toInt
      }
      val ids = Tables.documents(s, d)
        .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
        .filter((id: Long) => id % 13 == 0)
      val dir = cachedArtifact("audgate", d) { p =>
        AudioHashIndex.build(s, ids.map(id =>
          Multimodal.MediaRow(id, "audio", WavCodec.encodePcm16(sm(id, 0), 8000, 1))), p)
      }
      val batch = ids.flatMap { id =>
        def wav(off: Long, kind: Int, reMaster: Boolean = false) =
          Multimodal.MediaRow(id + off, "audio",
            if (reMaster) WavCodec.encodePcm16(sm(id, kind).flatMap(v => Array(v, v)),
              8000, 2, extraChunk = true)
            else WavCodec.encodePcm16(sm(id, kind), 8000, 1))
        val reEnc = if (id % 26 == 0) Seq(wav(4000000L, 0, reMaster = true)) else Seq.empty
        val twins = if (id % 52 == 0) Seq(wav(5000000L, 2), wav(6000000L, 2)) else Seq.empty
        val dipped = if (id % 39 == 0) Seq(wav(7000000L, 3)) else Seq.empty
        val garbage = if (id % 65 == 0)
          Seq(Multimodal.MediaRow(id + 9000000L, "audio", s"noaud$id".getBytes)) else Seq.empty
        (reEnc ++ twins ++ dipped) ++ Seq(wav(8000000L, 4)) ++ garbage
      }
      AudioHashIndex.dedupIngest(s, dir, batch)
    }),
    // The VIDEO gate's ingest decision oracle-bound (mm_phash_ingest's
    // sibling through the shared Hash64Index engine, with the video
    // fingerprint): residents = every 19th doc's deterministic AVI; the
    // batch plants re-containered residents (8-bit top-down + junk chunk →
    // Hamming 0), within-batch identical twins, segment-8 bumped twins
    // (the bit-dependency structure bounds them at Hamming ≤ 2 — ALWAYS
    // within the probe radius), fresh clips and garbage. DuckDB replays
    // the four-tier decision from the frame-pixel definitions.
    "mm_video_ingest" -> ((s, d) => {
      import s.implicits._
      import graft.multimodal.{AviCodec, Multimodal, VideoHashIndex}
      def frames(src: Long, kind: Int): Array[Array[Int]] = Array.tabulate(18) { f =>
        Array.tabulate(144) { p =>
          val x = p % 12; val y = p / 12
          val v = kind match {
            case 0 => src * 31L + f.toLong * f * 7L + x * 5L + y * 3L
            case 2 => src * 43L + f * 11L + x * 7L + y * 5L + 2L
            case 3 => src * 31L + f.toLong * f * 7L + x * 5L + y * 3L +
              (if (f >= 16 && x >= 4 && x < 8 && y >= 4 && y < 8) 101L else 0L)
            case _ => src * 57L + f * 13L + x * 9L + y * 7L + 5L
          }
          (v % 256L).toInt
        }
      }
      val ids = Tables.documents(s, d)
        .select(org.apache.spark.sql.functions.col("doc_id")).as[Long]
        .filter((id: Long) => id % 19 == 0)
      val dir = cachedArtifact("vidgate", d) { p =>
        VideoHashIndex.build(s, ids.map(id =>
          Multimodal.MediaRow(id, "video", AviCodec.encodeGray(frames(id, 0), 12, 12))), p)
      }
      val batch = ids.flatMap { id =>
        def clip(off: Long, kind: Int, reContainer: Boolean = false) =
          Multimodal.MediaRow(id + off, "video",
            AviCodec.encodeGray(frames(id, kind), 12, 12,
              bits = if (reContainer) 8 else 24, topDown = reContainer,
              extraChunk = reContainer))
        val reEnc = if (id % 38 == 0) Seq(clip(4000000L, 0, reContainer = true)) else Seq.empty
        val twins = if (id % 76 == 0) Seq(clip(5000000L, 2), clip(6000000L, 2)) else Seq.empty
        val bumped = if (id % 57 == 0) Seq(clip(7000000L, 3)) else Seq.empty
        val garbage = if (id % 95 == 0)
          Seq(Multimodal.MediaRow(id + 9000000L, "video", s"novid$id".getBytes)) else Seq.empty
        (reEnc ++ twins ++ bumped) ++ Seq(clip(8000000L, 4)) ++ garbage
      }
      VideoHashIndex.dedupIngest(s, dir, batch)
    }),
    "vec_index_search" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val qv = emb.filter(org.apache.spark.sql.functions.col("vec_id") === 0L)
        .select("embedding").head.getSeq[Float](0)
      graft.vector.VectorIndex.search(graft.vector.VectorIndex.fromEmbeddings(emb), qv)
    }),
    // The FLAT daily index (the reference-parity serving store) with point
    // deletes, same artifact pattern as vec_delete_search on the IVF side:
    // the persisted layout gets every 41st vec_id tombstoned at build time;
    // serving (retention window + kNN) must then equal brute force over the
    // retained corpus MINUS the deleted ids — the takedown/GDPR contract.
    "vec_flat_delete_search" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("flatdel", d) { p =>
        graft.vector.VectorIndex.append(graft.vector.VectorIndex.fromEmbeddings(emb), p)
        graft.vector.VectorIndex.delete(s, p,
          emb.filter(col("vec_id") % 41 === 0).select("vec_id"))
      }
      val qv = emb.filter(col("vec_id") === 3L).select("embedding").head.getSeq[Float](0)
      val asOf = graft.vector.VectorIndex.maxIngestDate(s, dir).get
      graft.vector.VectorIndex.search(
        graft.vector.VectorIndex.loadRecent(s, dir, asOf), qv)
    }),
    // Serve-ladder BUILD, timed as its own entry (the vec_pq_build
    // precedent): a FRESH flat layout + sidecar build per kind per call —
    // the honest one-time reorganization cost — installed into the
    // artifact cache so the four vec_serve_*search entries below measure
    // the AMORTIZED serve path (Bench runs queries name-sorted, and
    // "vec_serve_build" < "vec_serve_opq_search"). The returned summary is
    // the cross-engine-expressible slice of each layout: row counts plus
    // total code bytes (m=8 PQ codes for ivfpq/opq, d SQ8 codes for sq,
    // none for ivf) over the retained window; the builds' CONTENT is
    // verified by the search twins, which read exclusively from these
    // layouts against brute-force oracles.
    "vec_serve_build" -> ((s, d) => {
      import org.apache.spark.sql.functions._
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      // The four kind-builds are independent job chains over separate
      // temp roots — run them on concurrent driver threads (Spark's
      // scheduler interleaves their stages across the executor pool; the
      // standard multi-tenant submission shape). Builds don't touch
      // session confs, so plain Futures are safe; summaries assemble
      // after the barrier.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val dirs = try Await.result(Future.sequence(
        Seq("ivf" -> "flatserve", "ivfpq" -> "flatservepq",
            "sq" -> "flatservesq", "opq" -> "flatserveopq").map { case (kind, key) =>
          Future {
            val dir = java.nio.file.Files
              .createTempDirectory(s"graft-q-serve-$kind").toString + "/idx"
            graft.vector.VectorIndex.append(
              graft.vector.VectorIndex.fromEmbeddings(Tables.embeddings(s, d)), dir)
            graft.vector.ServeIndex.build(s, dir, kind, nCells = 8)
            artifactCache.putIfAbsent(s"$key|$d", dir)
            kind -> dir
          }
        }), Duration.Inf)
      finally pool.shutdown()
      dirs.map { case (kind, dir) =>
        val vecs = Parquet.read(s,
          graft.vector.ServeIndex.sidecarPath(dir) + "/vectors")
        val nCodes =
          if (kind == "ivf") sum(lit(0L)) // the ivf layout carries no codes column
          else sum(org.apache.spark.sql.functions.size(col("codes")).cast("long"))
        vecs.agg(count(lit(1)).as("n_vectors"),
            countDistinct(col("vec_id")).as("n_distinct_ids"),
            nCodes.as("n_codes"))
          .select(lit(kind).as("kind"), col("n_vectors"),
            col("n_distinct_ids"), col("n_codes"))
      }.reduce(_ unionByName _).orderBy(col("kind"))
    }),
    // The ANN serving sidecar over the flat daily index, probe-all (the
    // provably-exact configuration): sealed days answer via the IVF cell
    // layout, the hot watermark day brute-forces from the flat source of
    // truth, and the union must equal brute force over the whole retained
    // window — the same oracle shape as vec_index_search. The budgeted
    // configs and the fallback ladder are GraftApiSpec-pinned. Served from
    // the artifact cache (vec_serve_build installs it), so BENCH measures
    // the amortized serve path, not build+serve.
    "vec_serve_search" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("flatserve", d) { p =>
        graft.vector.VectorIndex.append(graft.vector.VectorIndex.fromEmbeddings(emb), p)
        graft.vector.ServeIndex.build(s, p, "ivf", nCells = 8)
      }
      val qv = emb.filter(col("vec_id") === 5L).select("embedding").head.getSeq[Float](0)
      graft.vector.ServeIndex.search(s, dir, "ivf", qv, k = 10, nProbe = 8)
        .getOrElse(sys.error("serve sidecar must answer the probe-all config"))
    }),
    // The IVF-PQ serve sidecar in the provably-exact configuration
    // (probe all cells, refine budget covering the sealed window): ADC
    // candidates from the codes column, exact re-rank, hot-day brute arm —
    // must equal brute force over the retained window, same oracle shape.
    "vec_serve_pq_search" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("flatservepq", d) { p =>
        graft.vector.VectorIndex.append(graft.vector.VectorIndex.fromEmbeddings(emb), p)
        graft.vector.ServeIndex.build(s, p, "ivfpq", nCells = 8)
      }
      val qv = emb.filter(col("vec_id") === 7L).select("embedding").head.getSeq[Float](0)
      val rf = ((emb.count() + 9) / 10).toInt
      graft.vector.ServeIndex.search(s, dir, "ivfpq", qv, k = 10, nProbe = 8,
          refineFactor = rf)
        .getOrElse(sys.error("serve sidecar must answer the probe-all config"))
    }),
    // The IVF-SQ8 serve sidecar in the provably-exact configuration
    // (probe all cells, refine budget covering the sealed window):
    // scalar-dequantized ADC candidates from the tinyint codes column,
    // exact float re-rank, hot-day brute arm — must equal brute force
    // over the retained window, completing the serve ladder
    // flat | ivf | ivfpq | sq.
    "vec_serve_sq_search" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("flatservesq", d) { p =>
        graft.vector.VectorIndex.append(graft.vector.VectorIndex.fromEmbeddings(emb), p)
        graft.vector.ServeIndex.build(s, p, "sq", nCells = 8)
      }
      val qv = emb.filter(col("vec_id") === 9L).select("embedding").head.getSeq[Float](0)
      val rf = ((emb.count() + 9) / 10).toInt
      graft.vector.ServeIndex.search(s, dir, "sq", qv, k = 10, nProbe = 8,
          refineFactor = rf)
        .getOrElse(sys.error("serve sidecar must answer the probe-all config"))
    }),
    // The OPQ serve sidecar (PCA-rotated residual PQ — FAISS
    // "PCAMatrix,IVF,PQ" posture) in the provably-exact configuration:
    // cells, residuals and ADC codes live in the decorrelated ROTATED
    // space, the stored embeddings and the exact re-rank stay original —
    // so probe-all + window-covering refine must equal brute force over
    // the retained window, independent of what the rotation did to the
    // candidate tier. Completes the serve ladder
    // flat | ivf | ivfpq | sq | opq.
    "vec_serve_opq_search" -> ((s, d) => {
      import org.apache.spark.sql.functions.col
      val emb = Tables.embeddings(s, d)
      val dir = cachedArtifact("flatserveopq", d) { p =>
        graft.vector.VectorIndex.append(graft.vector.VectorIndex.fromEmbeddings(emb), p)
        graft.vector.ServeIndex.build(s, p, "opq", nCells = 8)
      }
      val qv = emb.filter(col("vec_id") === 11L).select("embedding").head.getSeq[Float](0)
      val rf = ((emb.count() + 9) / 10).toInt
      graft.vector.ServeIndex.search(s, dir, "opq", qv, k = 10, nProbe = 8,
          refineFactor = rf)
        .getOrElse(sys.error("serve sidecar must answer the probe-all config"))
    }),
  )

  // ---- CRM tool-equivalents (the reference's 9-tool surface, SURVEY §3) ----
  private val crmQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "crm_active_companies" -> ((s, d) => graft.crm.CrmOps.activeCompanies(s, d)),
    "crm_active_contacts" -> ((s, d) => graft.crm.CrmOps.activeContacts(s, d)),
    "crm_tickets_default" -> ((s, d) => graft.crm.CrmOps.ticketsDefault(s, d)),
    "crm_tickets_closed" -> ((s, d) => graft.crm.CrmOps.ticketsClosed(s, d)),
    "crm_recent_conversations" -> ((s, d) => graft.crm.CrmOps.recentConversations(s, d)),
    "crm_company_activity" -> ((s, d) => graft.crm.CrmOps.companyActivity(s, d)),
    "crm_create_contacts" -> ((s, d) => graft.crm.CrmOps.createContactsDedup(s, d)),
    "crm_ticket_threads" -> ((s, d) => graft.crm.CrmOps.ticketConversationThreads(s, d)),
    "crm_create_companies" -> ((s, d) => graft.crm.CrmOps.createCompaniesDedup(s, d)),
    "crm_recent_emails" -> ((s, d) => graft.crm.CrmOps.recentEmails(s, d)),
  )

  def oracleSql: Map[String, String] = {
    val base = baseOracles
    // The default mining registrations are layout-backed since r12, over
    // the kmeansIters = 0 artifact whose on-disk assignment IS the seed
    // rule the oracles replay — so the two-table *_unindexed entries bind
    // to the SAME SQL, making "index-backed ≡ operator form" itself a
    // driver-checked equality, not just a spec assertion.
    base ++ graft.oracles.CrmOracles.sql ++ Map(
      "vec_triplets_unindexed" -> base("vec_triplets"),
      "vec_hard_negatives_unindexed" -> base("vec_hard_negatives"),
      "vec_label_audit_unindexed" -> base("vec_label_audit"))
  }

  private def baseOracles: Map[String, String] =
    graft.oracles.QOracles.sql ++ graft.oracles.DocOracles.sql ++
      graft.oracles.VecOracles.sql ++ graft.oracles.EvOracles.sql ++
      graft.oracles.MmOracles.sql
}
