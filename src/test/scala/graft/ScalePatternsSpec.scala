package graft

import org.apache.spark.sql.functions._

class ScalePatternsSpec extends SparkSpec {

  test("email page plan: envelope top-k lowers to TakeOrderedAndProject, detail join broadcasts") {
    val plan = graft.crm.CrmOps.recentEmails(spark, sf, 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"envelope paging should be one TakeOrderedAndProject:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"the page-side detail lookup should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"nothing in a 50-row page lookup should sort-merge:\n$plan")
  }

  test("ticket-threads plan: every join against the selected tickets broadcasts") {
    val plan = graft.crm.CrmOps.ticketConversationThreads(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"selected-ticket joins should broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"the tiny ticket/edge sides must never shuffle the fact table:\n$plan")
  }

  test("ev_topk_per_user rides the native top-k inside ObjectHashAggregate") {
    val df = graft.functions.TopKAggregator.topEventsPerUser(Tables.events(spark, sf))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate") && plan.contains("top_k_by_value"),
      s"native top-k should run in ObjectHashAggregate:\n$plan")
    // Parity with the full-sort window formulation it replaces.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    val windowed = Tables.events(spark, sf)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("user_id"), col("rank"), col("event_id"), col("value"))
      .orderBy(col("user_id"), col("rank"))
      .collect().toSeq
    assert(df.collect().toSeq == windowed)
  }

  test("runtime bloom-filter pruning injects might_contain on a selective shuffle join") {
    // At cluster scale a selective dim filter (here p_brand) should prune
    // the fact side's shuffle input BEFORE the join — Spark's runtime
    // bloom-filter injection does exactly that. The thresholds exist to
    // skip tiny scans, so lower the application-side floor for the test
    // corpus; production keeps defaults and gets this for free at 100 TB.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // forcing a shuffle join: broadcast joins don't need the runtime filter
      spark.conf.set(keys(0), "-1")
      spark.conf.set(keys(1), "-1")
      spark.conf.set(keys(2), "0")
      val li = Tables.lineitem(spark, sf)
      val selective = Tables.part(spark, sf).filter(col("p_brand") === "Brand#1")
      val q = li.join(selective, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type")).agg(count(lit(1)).as("n"))
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a runtime bloom filter on the fact scan:\n${plan.take(2000)}")
      // and the filtered plan returns the same rows as the unfiltered one
      val rows = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      spark.conf.set(keys(2), "10GB")
      val plain = li.join(selective, col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_type")).agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(rows == plain)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("curation plans: PII/repetition are exchange-free map stages; decontam broadcasts the benchmark") {
    val docs = Tables.documents(spark, sf)
    // PII redaction: one projection over one scan — zero Exchange.
    val piiPlan = graft.ops.Curation.redactPii(docs)
      .queryExecution.executedPlan.toString
    assert(!piiPlan.contains("Exchange"),
      s"PII redaction must be map-only:\n${piiPlan.take(800)}")
    // Repetition signals: the row-local fold keeps the top-gram statistic
    // out of any shuffle; the only Exchange is the final presentation sort.
    val repPlan = graft.ops.Curation.repetitionSignals(docs)
      .queryExecution.executedPlan.toString
    val repExchanges = "Exchange".r.findAllIn(repPlan).size
    assert(repExchanges <= 1 && repPlan.contains("rangepartitioning"),
      s"repetition signals must shuffle only for the output ordering:\n${repPlan.take(800)}")
    // Decontamination: the benchmark n-gram set must arrive broadcast —
    // the corpus side never shuffles its raw n-grams to a join.
    val decontamPlan = graft.ops.Curation.contaminatedDocs(
      docs.filter(col("doc_id") % 97 =!= 0), docs.filter(col("doc_id") % 97 === 0))
      .queryExecution.executedPlan.toString
    assert(decontamPlan.contains("BroadcastHashJoin"),
      s"benchmark n-grams must broadcast:\n${decontamPlan.take(800)}")
  }

  test("sequence packing plan: windows partition by bucket, never a global single partition") {
    val plan = graft.ops.Curation.packSequences(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    // every Window node must carry a partition spec (the bucket), so no
    // stage funnels the corpus into one task
    val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
    assert(windowLines.nonEmpty)
    windowLines.foreach(l =>
      assert(l.contains("bucket"), s"window must partition by bucket: $l"))
    assert(!plan.contains("SinglePartition"),
      s"no stage may demand a single partition:\n${plan.take(800)}")
  }

  test("corpus mixing plan: bucketed prefix-sum windows, literal budgets, no join, no single partition") {
    // All three mixture ops share cumTokensBySource; assert the shape on each.
    val docs = Tables.documents(spark, sf)
    val weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2)
    val plans = Seq(
      graft.ops.Sampling.mixCorpus(docs, weights, 2000L),
      graft.ops.Sampling.temperatureMix(docs, 2000L),
      graft.ops.Sampling.mixCorpusEpochs(docs, weights, 8000L))
      .map(_.queryExecution.executedPlan.toString)
    plans.foreach { plan =>
      val windowLines = plan.linesIterator.filter(_.contains("Window ")).toSeq
      assert(windowLines.nonEmpty)
      // the cumsum window must partition by (source, draw-bucket): a bare
      // source partitioning is one reducer per source — the 100-TB straggler
      windowLines.foreach { l =>
        assert(l.contains("_bucket"), s"cumsum window must partition by draw bucket: $l")
        assert(l.contains("source"), s"cumsum window must also key on source: $l")
      }
      assert(!plan.contains("SinglePartition"),
        s"no stage may demand a single partition:\n${plan.take(800)}")
      // budgets + bucket offsets are literal artifacts — no join anywhere
      assert(!plan.contains("Join"), s"budget lookup must be join-free:\n${plan.take(800)}")
    }
  }

  test("semantic dedup plan: candidate generation is equi-join shaped, never a cross product") {
    val plan = graft.ops.Similarity.semanticDedup(Tables.embeddings(spark, sf), 0.42)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"pair generation must stay cell-blocked equi-joins:\n${plan.take(1200)}")
  }

  test("chunking plan: map-only — the only exchange is the presentation sort") {
    val plan = graft.ops.Curation.chunkDocs(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size
    assert(exchanges <= 1 && (exchanges == 0 || plan.contains("rangepartitioning")),
      s"chunking must not shuffle except to order output:\n${plan.take(800)}")
  }

  test("columnStats plan: no Expand, no grouping-less single-reducer aggregate") {
    val plan = graft.ops.Relational.columnStats(Tables.lineitem(spark, sf),
        Seq("l_quantity", "l_extendedprice", "l_partkey"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Expand"),
      s"multi-distinct must not rewrite via Expand:\n${plan.take(1000)}")
    // every aggregate carries grouping keys — the old shape funneled the
    // melted table into one keys=[] reducer
    val keyless = "keys=\\[\\]".r.findAllIn(plan).size
    assert(keyless == 0,
      s"found $keyless grouping-less aggregates:\n${plan.take(1500)}")
  }

  test("prefix-rerank plan: both stages lower to TakeOrderedAndProject") {
    val plan = graft.ops.Similarity.prefixRerankKnn(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(plan).size >= 2,
      s"candidate and re-rank stages must both be bounded top-ks:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"),
      "the query vector must broadcast, not cross-join by nested loop")
  }

  test("funnel plan: every stage joins on the user key, no event-history window") {
    val plan = graft.ops.Events.funnel(Tables.events(spark, sf),
        Seq("view", "click", "purchase"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"the funnel must not window over event history:\n${plan.take(1000)}")
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"stages must stay user-keyed equi-joins:\n${plan.take(1000)}")
  }

  test("AQE skew-join: a pathologically skewed key splits at runtime, result unchanged") {
    // The built-in complement of the manual salting pattern: AQE's
    // OptimizeSkewedJoin splits an oversized partition into parallel
    // sub-reads at runtime. Thresholds lowered so the demo triggers at
    // test scale; the mechanism (and the plan marker) is what 100 TB runs
    // rely on for shuffle-join skew without hand salting.
    import spark.implicits._
    val prev = Seq("spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // left: one key carries ~all rows; right: wide-ish payload per key
      val left = spark.range(0, 60000).select(
        when(col("id") % 100 =!= 0, lit(7L)).otherwise(col("id") % 50).as("k"),
        col("id").as("v"))
      val right = spark.range(0, 50).select(col("id").as("k"),
        concat(lit("p"), col("id")).as("payload"))
      val joined = left.join(right, "k")
      // collect() executes THIS queryExecution, so AQE finalizes the very
      // plan we inspect (count() would wrap it in a fresh execution)
      val n = joined.collect().length.toLong
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE must mark the skewed join split:\n${finalPlan.take(1500)}")
      // correctness: every left row with k in [0,50) joins exactly once
      val expected = left.filter(col("k") < 50).count()
      assert(n == expected, s"skew-split join changed the result: $n vs $expected")
    } finally prev.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("dynamic partition pruning: a dim filter prunes the partitioned fact scan at runtime") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString + "/fact"
    // date-partitioned fact (the events/vector-index layout class)
    spark.range(0, 20000).select(col("id"),
        (col("id") % 20).as("day"), (col("id") % 7).as("metric"))
      .write.partitionBy("day").parquet(dir)
    val fact = spark.read.parquet(dir)
    val dim = spark.range(0, 20).select(col("id").as("day"),
        when(col("id") < 2, "keep").otherwise("drop").as("tag"))
    val joined = fact.join(dim.filter(col("tag") === "keep"), "day")
    val n = joined.count()
    assert(n == 2000, s"expected 2 of 20 day partitions to survive, got $n rows")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning") || plan.contains("dynamicpruningexpression"),
      s"the fact scan must carry a dynamic pruning predicate:\n${plan.take(1500)}")
  }

  test("doc novelty plan: partial df aggregation, equi-join gram match, no cross product") {
    val plan = graft.ops.TextAnalysis.docNovelty(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"gram df join must be equi-join shaped:\n${plan.take(1200)}")
    assert(plan.contains("partial_count") || plan.contains("partial count"),
      s"the gram-keyed df aggregation must combine map-side:\n${plan.take(1200)}")
  }

  test("link rank plan: per-round join+sum stays equi-join shaped with partial sums") {
    import spark.implicits._
    val edges = spark.range(0, 2000).select(col("id").as("src"),
      ((col("id") * 3 + 7) % 2000).as("dst"))
    val plan = graft.ops.Graph.linkRank(edges, rounds = 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"rank propagation must never cross-join:\n${plan.take(1200)}")
    assert(plan.contains("partial_sum") || plan.contains("partial sum"),
      s"per-dst contribution sums must combine map-side:\n${plan.take(1200)}")
  }
}
