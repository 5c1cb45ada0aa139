package graft

import org.apache.spark.sql.functions._
import graft.ops.Dedup
import graft.text.LshIndex

class LshIndexSpec extends SparkSpec {

  private def fixtureBatch(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        when(col("doc_id") % 20 === 0, col("text"))
          .otherwise(concat(col("text"), lit(" zz yy xx"))).as("text"))

  test("gate plan: batch side broadcasts everywhere — resident tables are never sort-merge joined") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-plan").toString + "/idx"
    val docs = Tables.documents(spark, sf)
    LshIndex.build(spark, docs, dir)
    val plan = LshIndex.dedupBatch(spark, dir, fixtureBatch(docs))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"a bounded delivery batch must broadcast against every resident table:\n${plan.take(3000)}")
  }

  test("broadcast guard reads the checkpoint's block-manager size; a tiny cap refuses the hint") {
    // 1) the zero-job measure must RESOLVE for an eagerly checkpointed
    // frame — if the LogicalRDD lookup ever breaks, every gate call would
    // silently pay the fallback string-scan job again (the r12 cost this
    // replaced), so pin resolution itself.
    val docs = Tables.documents(spark, sf)
    val ck = docs.limit(50).localCheckpoint(true)
    val measured = LshIndex.materializedBytes(spark, ck)
    assert(measured.exists(_ > 0L),
      s"block-manager size lookup must resolve for a checkpointed frame, got $measured")
    // 2) refusal pin: under a 1-byte cap the candidate-derived sides must
    // NOT broadcast (the OOM backstop), the joins distribute, and the
    // output is IDENTICAL to the broadcast path.
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-guard").toString + "/idx"
    LshIndex.build(spark, docs, dir)
    val batch = fixtureBatch(docs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("batch_doc_id"), r.getAs[Long]("resident_doc_id"),
        r.getAs[Long]("n_shared_bands"), r.getAs[Double]("jaccard"),
        r.getAs[Boolean]("is_exact"))).toSeq
    val open = rows(LshIndex.dedupBatch(spark, dir, batch))
    assert(open.nonEmpty)
    // disable auto-broadcast too: at spec scale Spark would otherwise
    // self-broadcast the tiny resident sides and mask the refusal
    val auto = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    System.setProperty("graft.lsh.maxGateBroadcastBytes", "1")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val gated = LshIndex.dedupBatch(spark, dir, batch)
      val plan = gated.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"cap=1 must distribute the candidate joins:\n${plan.take(2000)}")
      assert(rows(gated) == open, "guarded path must not change the verdicts")
    } finally {
      System.clearProperty("graft.lsh.maxGateBroadcastBytes")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", auto)
    }
  }

  test("pruned band scan ≡ full scan: identical reports, In(band_key) pushed per band") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-bp").toString + "/idx"
    val docs = Tables.documents(spark, sf)
    LshIndex.build(spark, docs, dir)
    val batch = fixtureBatch(docs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(r =>
      (r.getAs[Long]("batch_doc_id"), r.getAs[Long]("resident_doc_id"),
        r.getAs[Long]("n_shared_bands"), r.getAs[Double]("jaccard"),
        r.getAs[Boolean]("is_exact"))).toSeq
    val open = rows(LshIndex.dedupBatch(spark, dir, batch))
    assert(open.nonEmpty)
    val bBands = Dedup.bandKeys(Dedup.minhashWide(Dedup.shingles(batch)))
      .localCheckpoint(true)
    System.setProperty("graft.lsh.bandsPruneBytes", "0")
    try {
      // the pruned read itself: In(band_key) pushed, rows ≡ the full scan
      // restricted to the batch's (band_id, band_key) set — the candidate
      // join's key, so the restriction is invisible to it
      val pruned = LshIndex.residentBands(spark, dir, bBands)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("In(band_key"),
        s"per-band key predicate not pushed:\n${plan.take(2500)}")
      def trip(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"), col("band_id").cast("int"), col("band_key"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2))).sorted.toSeq
      val expected = trip(spark.read.parquet(s"$dir/bands")
        .join(bBands.select(col("band_id"), col("band_key")).distinct(),
          Seq("band_id", "band_key")))
      assert(trip(pruned) == expected && expected.nonEmpty)
      // end to end: verdicts identical under the pruned read
      assert(rows(LshIndex.dedupBatch(spark, dir, batch)) == open,
        "pruned band scan must not change the report")
    } finally System.clearProperty("graft.lsh.bandsPruneBytes")
  }

  test("band writes are file-bounded: ≤ 8 files per band directory from a multi-task writer") {
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh-files").toString + "/idx"
    LshIndex.build(spark, Tables.documents(spark, sf).repartition(16), dir)
    val bandDirs = new java.io.File(s"$dir/bands").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("band_id="))
    assert(bandDirs.nonEmpty)
    bandDirs.foreach { d =>
      val n = d.listFiles().count(_.getName.endsWith(".parquet"))
      assert(n <= 8, s"$d holds $n files — the composite sub-key bounds it at 8")
    }
  }

  test("batch-vs-index dedup equals recomputing minhash pairs over the union") {
    val docs = Tables.documents(spark, sf)
    val batch = fixtureBatch(docs)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh").toString + "/lsh"
    LshIndex.build(spark, docs, dir)
    val incr = LshIndex.dedupBatch(spark, dir, batch).collect()
      .map(r => (r.getAs[Long]("batch_doc_id"), r.getAs[Long]("resident_doc_id")) ->
        ((r.getAs[Long]("n_shared_bands"), r.getAs[Double]("jaccard")))).toMap
    // Reference: the full-recompute operator over resident ∪ batch,
    // restricted to cross pairs (resident ids < 2000000 ≤ batch ids).
    val full = Dedup.minhashDupPairs(docs.select("doc_id", "text").unionByName(batch))
      .filter(col("doc_a") < 2000000L && col("doc_b") >= 2000000L)
      .collect()
      .map(r => (r.getAs[Long]("doc_b"), r.getAs[Long]("doc_a")) ->
        ((r.getAs[Long]("n_shared_bands"), r.getAs[Double]("jaccard")))).toMap
    assert(incr.nonEmpty && incr == full,
      s"index-served dedup diverged: ${incr.size} vs ${full.size} pairs")
  }

  test("exact flag marks verbatim re-offers; perturbed docs are near-dups") {
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh2").toString + "/lsh"
    LshIndex.build(spark, docs, dir)
    val pairs = LshIndex.dedupBatch(spark, dir, fixtureBatch(docs)).collect()
    // Every batch doc pairs with its own source (id − 2000000) at least.
    val selfPairs = pairs.filter(r =>
      r.getAs[Long]("resident_doc_id") == r.getAs[Long]("batch_doc_id") - 2000000L)
    assert(selfPairs.nonEmpty)
    selfPairs.foreach { r =>
      val src = r.getAs[Long]("resident_doc_id")
      if (src % 20 == 0) {
        assert(r.getAs[Boolean]("is_exact") && r.getAs[Double]("jaccard") == 1.0)
      } else {
        assert(!r.getAs[Boolean]("is_exact") && r.getAs[Double]("jaccard") < 1.0)
      }
    }
  }

  test("ingest gate drops dups, appends survivors, and catches re-offers of ingested docs") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh3").toString + "/lsh"
    LshIndex.build(spark, docs, dir)
    // A batch with one verbatim dup, one perturbed dup, one novel doc.
    val src = docs.orderBy("doc_id").limit(2).collect()
    val batch = Seq(
      (3000001L, src(0).getAs[String]("text")),
      (3000002L, src(1).getAs[String]("text") + " zz yy xx"),
      (3000003L, "qq ww ee rr tt uu ii oo pp aa ss dd ff gg hh jj"))
      .toDF("doc_id", "text")
    val report = LshIndex.ingestBatch(spark, dir, batch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(report(3000001L) == "exact_dup")
    assert(report(3000002L) == "near_dup")
    assert(report(3000003L) == "ingested")
    // The novel doc is now resident: re-offering it verbatim is an exact dup.
    val reoffer = Seq((4000001L,
      "qq ww ee rr tt uu ii oo pp aa ss dd ff gg hh jj")).toDF("doc_id", "text")
    val second = LshIndex.ingestBatch(spark, dir, reoffer).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(second(4000001L) == "exact_dup")
  }

  test("within-batch exact copies: only the min-id copy ingests, the rest are batch_dups") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh4").toString + "/lsh"
    LshIndex.build(spark, docs, dir)
    val novel = "mm nn bb vv cc xx ll kk jj hh gg ff dd ss aa qq"
    val batch = Seq(
      (5000001L, novel), (5000002L, novel), (5000003L, novel))
      .toDF("doc_id", "text")
    val report = LshIndex.ingestBatch(spark, dir, batch).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("verdict")).toMap
    assert(report == Map(5000001L -> "ingested",
      5000002L -> "batch_dup", 5000003L -> "batch_dup"))
    // exactly ONE copy became resident
    val resident = spark.read.parquet(s"$dir/hashes")
      .filter(col("doc_id") >= 5000000L).count()
    assert(resident == 1)
  }

  test("ingest fails fast when a batch reuses a resident doc_id") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh6").toString + "/lsh"
    LshIndex.build(spark, docs, dir)
    val residentId = docs.orderBy("doc_id").limit(1).collect()(0).getAs[Long]("doc_id")
    val clashing = Seq((residentId, "totally different text under a reused id"))
      .toDF("doc_id", "text")
    val e1 = intercept[IllegalArgumentException](LshIndex.ingestBatch(spark, dir, clashing))
    assert(e1.getMessage.contains("doc_ids collide"))
    val e2 = intercept[IllegalArgumentException](LshIndex.dedupBatch(spark, dir, clashing))
    assert(e2.getMessage.contains("doc_ids collide"))
  }

  test("exact tier catches re-offers too short to shingle") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh5").toString + "/lsh"
    LshIndex.build(spark, docs, dir)
    // A two-word doc has NO 3-gram shingles — invisible to the LSH report —
    // but the hash tier must still catch its verbatim re-offer.
    val first = LshIndex.ingestBatch(spark, dir,
      Seq((6000001L, "zz qq")).toDF("doc_id", "text")).collect()
    assert(first.head.getString(1) == "ingested")
    val second = LshIndex.ingestBatch(spark, dir,
      Seq((6000002L, "zz qq")).toDF("doc_id", "text")).collect()
    assert(second.head.getString(1) == "exact_dup")
  }

  test("deleted residents stop matching: near-dup and exact tiers both honor tombstones") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh6").toString + "/lsh"
    LshIndex.build(spark, docs, dir)
    val batch = fixtureBatch(docs)
    val before = LshIndex.dedupBatch(spark, dir, batch).collect()
      .map(r => (r.getAs[Long]("batch_doc_id"), r.getAs[Long]("resident_doc_id")))
    assert(before.nonEmpty)
    // retract every resident that matched anything
    val deadIds = before.map(_._2).distinct
    LshIndex.delete(spark, dir, deadIds.toSeq.toDF("doc_id"))
    val after = LshIndex.dedupBatch(spark, dir, batch).collect()
    assert(after.isEmpty, s"tombstoned residents still matched: ${after.length} pairs")
    // exact tier: a verbatim re-offer of a deleted doc's text now ingests
    val deadText = docs.filter(col("doc_id") === deadIds.head)
      .select(col("text")).head.getString(0)
    val verdict = LshIndex.ingestBatch(spark, dir,
      Seq((7000001L, deadText)).toDF("doc_id", "text")).collect().head.getString(1)
    assert(verdict == "ingested", s"deleted text should re-ingest, got $verdict")
  }

  test("deleted ids stay burned until compact; compacted index equals a fresh build") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft-lsh7").toString + "/lsh"
    LshIndex.build(spark, docs, dir)
    val deadIds = docs.filter(col("doc_id") % 10 === 0).select(col("doc_id"))
    LshIndex.delete(spark, dir, deadIds)
    // pre-compaction: the id is burned — re-offering it fails the gate
    val reuse = Seq((0L, "totally new text under a deleted id")).toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException](LshIndex.ingestBatch(spark, dir, reuse))
    assert(e.getMessage.contains("doc_ids collide"))
    LshIndex.compact(spark, dir)
    assert(!new java.io.File(s"$dir/tombstones").exists(), "compact must drop the log")
    // post-compaction: replacement path open again
    val verdict = LshIndex.ingestBatch(spark, dir, reuse).collect().head.getString(1)
    assert(verdict == "ingested")
    // and serving equals a FRESH index over the surviving corpus + the replacement
    val survivors = docs.filter(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"), col("text"))
      .unionByName(reuse)
    val fresh = java.nio.file.Files.createTempDirectory("graft-lsh8").toString + "/lsh"
    LshIndex.build(spark, survivors, fresh)
    val batch = fixtureBatch(docs)
    val a = LshIndex.dedupBatch(spark, dir, batch).collect()
      .map(r => (r.getAs[Long]("batch_doc_id"), r.getAs[Long]("resident_doc_id"),
        r.getAs[Double]("jaccard"))).toSet
    val b = LshIndex.dedupBatch(spark, fresh, batch).collect()
      .map(r => (r.getAs[Long]("batch_doc_id"), r.getAs[Long]("resident_doc_id"),
        r.getAs[Double]("jaccard"))).toSet
    assert(a == b, s"compacted (${a.size}) vs fresh (${b.size}) diverged")
  }

  test("winnow tier: a spliced run below whole-doc Jaccard is caught only with the tier on") {
    import spark.implicits._
    // Disjoint per-doc vocabularies — every shared gram is the planted run.
    def words(tag: String, n: Int): Seq[String] = Seq.tabulate(n)(j => s"$tag$j")
    val resident = (0 until 20).map(i => (i.toLong, words(s"r${i}w", 60).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-lshw").toString + "/lsh"
    LshIndex.build(spark, resident, dir)
    // splice 30 tokens of resident doc 5 into 90 fresh tokens: shingle
    // Jaccard ≈ 28/148 ≈ 0.19 — under the 0.3 near-dup threshold
    val run = words("r5w", 60).slice(10, 40)
    val spliced = (words("f1x", 45) ++ run ++ words("f2x", 45)).mkString(" ")
    val freshDoc = words("f3x", 80).mkString(" ")
    val batch = Seq((1001L, spliced), (1002L, freshDoc)).toDF("doc_id", "text")
    // sanity: the splice really is sub-threshold for the LSH tier
    val j = graft.ops.Dedup.blockedJaccardPairs(
      resident.withColumn("source", lit("s"))
        .unionByName(batch.withColumn("source", lit("s"))), threshold = 0.0)
      .filter(col("doc_a") === 5L && col("doc_b") === 1001L)
      .head.getAs[Double]("jaccard")
    assert(j < 0.3, s"fixture drift: splice jaccard $j must stay under the near-dup threshold")
    // tier ON: the splice is an overlap_dup and is NOT appended
    val on = LshIndex.ingestBatch(spark, dir, batch, winnowMinShared = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(on == Map(1001L -> "overlap_dup", 1002L -> "ingested"), s"got $on")
    // tier OFF (the default — the stream twin's path): the same splice
    // sails through under a new id
    val off = LshIndex.ingestBatch(spark, dir, Seq((1003L, spliced)).toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(off == Map(1003L -> "ingested"), s"got $off")
    // incremental property: doc 1003's fps were appended, so a LATER batch
    // splicing from 1003's fresh filler is caught against the INGESTED doc
    val splice2 = (words("g1x", 45) ++ words("f1x", 45).slice(5, 35) ++ words("g2x", 45))
      .mkString(" ")
    val on2 = LshIndex.ingestBatch(spark, dir,
      Seq((1004L, splice2)).toDF("doc_id", "text"), winnowMinShared = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(on2 == Map(1004L -> "overlap_dup"), s"got $on2")
    // boilerplate cap: with winnowMaxDf = 0 every resident fp is "too
    // common" and the tier goes silent — the df bound really gates it
    // (fresh filler: an exact copy of 1003 would die in the exact tier)
    val capped = LshIndex.ingestBatch(spark, dir,
      Seq((1005L, (words("k1x", 45) ++ run ++ words("k2x", 45)).mkString(" ")))
        .toDF("doc_id", "text"),
      winnowMinShared = 2, winnowMaxDf = 0)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(capped == Map(1005L -> "ingested"), s"got $capped")
    // tombstones: delete resident 5 AND the two ingested splice copies
    // (1003/1005 carry the same run) — the run's fps stop vetoing entirely
    LshIndex.delete(spark, dir, Seq(5L, 1003L, 1005L).toDF("doc_id"))
    val afterDel = LshIndex.ingestBatch(spark, dir,
      Seq((1006L, (words("h1x", 45) ++ run ++ words("h2x", 45)).mkString(" ")))
        .toDF("doc_id", "text"), winnowMinShared = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(afterDel == Map(1006L -> "ingested"), s"got $afterDel")
  }

  test("verdict priority: exact beats near and overlap; near beats overlap") {
    import spark.implicits._
    def words(tag: String, n: Int): Seq[String] = Seq.tabulate(n)(j => s"$tag$j")
    val resident = (0 until 10).map(i => (i.toLong, words(s"r${i}w", 60).mkString(" ")))
      .toDF("doc_id", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft-lshp").toString + "/lsh"
    LshIndex.build(spark, resident, dir)
    // 2001: a verbatim copy of resident 1; 2002: resident 2 plus one word
    val batch = Seq((2001L, words("r1w", 60).mkString(" ")),
      (2002L, (words("r2w", 60) :+ "extra").mkString(" "))).toDF("doc_id", "text")
    // each doc qualifies for the tiers the test name says, tier by tier
    assert(LshIndex.exactTier(spark, dir, batch) == Set(2001L))
    val near = LshIndex.dedupBatch(spark, dir, batch).collect()
      .map(_.getAs[Long]("batch_doc_id")).toSet
    assert(near == Set(2001L, 2002L))
    assert(LshIndex.overlapTier(spark, dir, batch, 2, 1000) == Set(2001L, 2002L))
    val got = LshIndex.ingestBatch(spark, dir, batch, winnowMinShared = 2)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(2001L -> "exact_dup", 2002L -> "near_dup"))
  }
}
