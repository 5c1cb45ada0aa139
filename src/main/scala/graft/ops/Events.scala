package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Num._
import graft.sources.Parquet

/** Event-stream analytics (SURVEY.md §2.10): the batch formulations of the
  * incremental/streaming shapes. The same transforms run under Structured
  * Streaming in graft.streaming (tumbling window == groupBy window($"ts")).
  */
object Events {

  /** Tumbling 1-hour window aggregate per event type (streaming-window analog
    * of the reference's daily rolling index, `faiss_manager.py:63-104`).
    */
  def tumblingHourly(events: DataFrame): DataFrame =
    events
      .groupBy(date_trunc("hour", col("ts")).as("hour_ts"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(tsS(col("hour_ts")).as("hour_ts"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("hour_ts"), col("event_type"))

  /** Sliding-window aggregate (1-hour window, 15-minute slide): each event
    * lands in exactly 4 overlapping windows — Spark's `window()` generator
    * expands them; partial aggregation still combines map-side. The
    * streaming twin is the same expression under a watermark.
    */
  def slidingQuarterHourly(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(tsS(col("w.start")).as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))
      .orderBy(col("window_start"), col("event_type"))

  /** Sessionization: gaps-and-islands with a 30-minute inactivity timeout.
    * Window lag/cumulative-sum; the streaming twin uses
    * flatMapGroupsWithState (graft.streaming.SessionizeStream).
    */
  def sessionize(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapMicros = gapMinutes * 60L * 1000000L
    val newSession = when(
      unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(byUser)) > gapMicros ||
        lag(col("ts"), 1).over(byUser).isNull, 1).otherwise(0)
    events
      .withColumn("new_s", newSession)
      .withColumn("session_id", sum(col("new_s"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"))
      .agg(max(col("session_id")).as("n_sessions"),
        count(lit(1)).as("n_events"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** JSON property extraction (R10/R11 analog: `json.dumps`/`json.loads`
    * round-trip in the reference, `utils.py:22`).
    */
  def jsonPropBuckets(events: DataFrame): DataFrame =
    events
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n_events"), sum(col("k")).as("sum_k"))
      .orderBy(col("k_bucket"))

  /** Sketch aggregates: HLL distinct-user estimates per event type — the
    * constant-memory form of COUNT(DISTINCT) for 100 TB cardinalities
    * (rows-only driver check: estimates are engine-specific by design;
    * the exact twin is Relational.orderStats' countDistinct).
    */
  def approxUserCounts(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** Sketch quantiles per event type (approx_percentile / t-digest-style
    * bounded-memory summaries — the at-scale companion of the exact
    * `Relational.quantiles`). Rows-only driver check, same contract as
    * `approxUserCounts`: sketch estimates are engine-specific by design.
    */
  def approxValueQuantiles(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, array(0.5, 0.9, 0.99), 1000)").as("value_q"),
        count(lit(1)).as("n_events"))
      .select(col("event_type"),
        col("value_q")(0).as("p50"), col("value_q")(1).as("p90"),
        col("value_q")(2).as("p99"), col("n_events"))
      .orderBy(col("event_type"))

  /** Top-k users by spend, enriched with the customer dim via broadcast join
    * (events.user_id + 1 == customer.c_custkey by construction of the
    * testdata generator).
    */
  def topUsers(events: DataFrame, customer: DataFrame, k: Int = 10): DataFrame =
    events
      .groupBy(col("user_id"))
      .agg(dsum(col("value")).as("total_value"), count(lit(1)).as("n_events"))
      .join(broadcast(customer), col("user_id") + 1 === col("c_custkey"))
      .select(col("user_id"), col("c_name"), col("total_value"), col("n_events"))
      .orderBy(col("total_value").desc, col("user_id"))
      .limit(k)

  /** Gap-filled hourly resample per event type — the time-series
    * regularization step (dashboarding, anomaly baselines, feature
    * windows need a DENSE grid, not just hours that happened to have
    * events): every hour of the stream's [min, max] extent appears for
    * every type, with zero-filled counts/sums and a forward-filled "last
    * observed hourly sum" (LOCF). The grid is event_types × hour
    * sequence off a broadcast 1-row extent aggregate — never a
    * corpus-sized generator; the LOCF window partitions by type over
    * hour-bounded rows (time extent, not data volume, bounds the frame).
    * Sums ride the decimal-exact `dsum` so both engines agree bitwise.
    */
  def resampleHourly(events: DataFrame): DataFrame = {
    val hourly = events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sv"))
    val extent = events.agg(
      date_trunc("hour", min(col("ts"))).as("h0"),
      date_trunc("hour", max(col("ts"))).as("h1"))
    val grid = events.select(col("event_type")).distinct()
      .crossJoin(broadcast(extent))
      .select(col("event_type"),
        explode(expr("sequence(h0, h1, interval 1 hour)")).as("h"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("ffill_value", last(col("sv"), ignoreNulls = true).over(w))
      .select(col("event_type"), tsS(col("h")).as("hour_ts"),
        coalesce(col("n"), lit(0L)).as("n_events"),
        coalesce(col("sv"), lit(0.0)).as("sum_value"),
        col("ffill_value"))
      .orderBy(col("event_type"), col("hour_ts"))
  }

  /** Ordered funnel analysis: per user, the earliest time each step was
    * reached with every step STRICTLY AFTER the previous one (the
    * MATCH_RECOGNIZE-less formulation: stage i = min event time of step i
    * among events later than stage i−1's time). Users keep their row from
    * the first step on, with NULL times from wherever they dropped out —
    * the per-user detail a conversion report aggregates. Scale shape:
    * every stage is a user-keyed equi-join + partial-aggregated min over
    * only that step's events (the type filter prunes first), so one funnel
    * of k steps is k bounded join+agg stages all sharing the user_id key —
    * co-partitioning carries across stages, no window over event history.
    */
  def funnel(events: DataFrame, steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val first = events.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val staged = steps.tail.zipWithIndex.foldLeft(first) { case (acc, (s, i)) =>
      val tPrev = s"t${i + 1}"
      val tCur = s"t${i + 2}"
      val reached = events.filter(col("event_type") === s)
        .select(col("user_id"), col("ts"))
        .join(acc.select(col("user_id"), col(tPrev)), Seq("user_id"))
        .filter(col("ts") > col(tPrev))
        .groupBy(col("user_id")).agg(min(col("ts")).as(tCur))
      acc.join(reached, Seq("user_id"), "left")
    }
    staged.select(col("user_id") +:
        steps.indices.map(i => tsS(col(s"t${i + 1}")).as(s"t${i + 1}")): _*)
      .orderBy(col("user_id"))
  }

  /** Windowed funnel — [[funnel]] with a conversion deadline: step k+1
    * counts only if it lands within `maxGapMinutes` AFTER step k (the
    * "purchase within an hour of the view" product question; the
    * unbounded funnel overcounts long-dormant returns as conversions).
    * Same scale shape as [[funnel]]: k bounded join+agg stages sharing
    * the user_id key, the window predicate one exact integer microsecond
    * comparison inside each stage's filter. Earliest-qualifying semantics
    * per step (min ts among in-window events after the previous step).
    */
  def funnelWindowed(events: DataFrame, steps: Seq[String],
      maxGapMinutes: Long = 60L): DataFrame = {
    require(steps.size >= 2, "a funnel needs at least two steps")
    val gapMicros = maxGapMinutes * 60L * 1000000L
    val first = events.filter(col("event_type") === steps.head)
      .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
    val staged = steps.tail.zipWithIndex.foldLeft(first) { case (acc, (s, i)) =>
      val tPrev = s"t${i + 1}"
      val tCur = s"t${i + 2}"
      val reached = events.filter(col("event_type") === s)
        .select(col("user_id"), col("ts"))
        .join(acc.select(col("user_id"), col(tPrev)), Seq("user_id"))
        .filter(col("ts") > col(tPrev) &&
          unix_micros(col("ts")) - unix_micros(col(tPrev)) <= gapMicros)
        .groupBy(col("user_id")).agg(min(col("ts")).as(tCur))
      acc.join(reached, Seq("user_id"), "left")
    }
    staged.select(col("user_id") +:
        steps.indices.map(i => tsS(col(s"t${i + 1}")).as(s"t${i + 1}")): _*)
      .orderBy(col("user_id"))
  }

  /** View→purchase conversion latency quantiles — the funnel-timing
    * metric a product-analytics engine pairs with [[funnel]]: every
    * purchase as-of-joins (AsOfJoin — one shuffle, no inequality-join
    * blowup) to the same user's most recent PRIOR view; latency is the
    * exact integer microsecond difference (`unix_micros`, bitwise in both
    * engines), and the requested quantiles run through the distributed
    * exact-quantile engine over the single latency population. Purchases
    * with no prior view never convert and drop out. Output: one row per
    * requested quantile (q, latency_us).
    */
  def conversionLatency(events: DataFrame,
      qs: Seq[Double] = Seq(0.5, 0.9, 0.99)): DataFrame = {
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = events.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"))
      .distinct()
      .withColumn("v_seen", col("v_ts"))
    val lat = graft.ops.AsOfJoin.asOf(purchases, views,
        leftKey = col("user_id"), rightKey = col("v_user"),
        leftTs = col("ts"), rightTs = col("v_ts"), payload = Seq("v_seen"))
      .filter(col("asof_v_seen").isNotNull)
      .select(lit(0L).as("g"),
        (unix_micros(col("ts")) - unix_micros(col("asof_v_seen"))).as("lat_us"))
      // materialized once: the quantile engine's stats/histogram/in-band
      // passes otherwise each replan the full as-of join (the r13 plan
      // carried 36 event scans for this one query)
      .localCheckpoint(true)
    graft.ops.Relational.exactQuantilesDistributed(lat, "g", "lat_us", qs)
      .select(col("q"), col("quantile").as("latency_us"))
      .orderBy(col("q"))
  }

  /** Weekly cohort retention: users cohort by the week of their FIRST
    * signup; a cohort's week-N retention is the share of its users with
    * ANY activity in cohort-week + N. Both week anchors are Monday-
    * truncated in both engines, the offset is an exact integer (the day
    * difference of two week-truncated dates is divisible by 7), and the
    * single rate division is one IEEE op — all engine-portable. Scale
    * shape: cohort assignment is one user-keyed agg; the activity join is
    * user-keyed (co-partitioned with it); the (cohort, offset) key space
    * is calendar-bounded, so the final agg is tiny no matter the volume.
    */
  def cohortRetention(events: DataFrame): DataFrame = {
    val signup = events.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(date_trunc("week", min(col("ts"))).as("cw"))
    val size = signup.groupBy(col("cw")).agg(count(lit(1)).as("cohort_size"))
    val active = events.select(col("user_id"), date_trunc("week", col("ts")).as("aw"))
      .join(signup, Seq("user_id"))
      .select(col("cw"),
        (datediff(col("aw"), col("cw")) / 7).cast("int").as("week_offset"),
        col("user_id"))
      .filter(col("week_offset") >= 0)
      .distinct()
    active.groupBy(col("cw"), col("week_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(size, Seq("cw"))
      .select(to_date(col("cw")).as("cohort_week"), col("week_offset"),
        col("n_active"), col("cohort_size"),
        (col("n_active").cast("double") / col("cohort_size").cast("double"))
          .as("retention"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }

  /** Hours whose event volume deviates ≥ k standard deviations from the
    * type's hourly mean — volume-anomaly detection over the GAP-FILLED
    * series (a dead hour is exactly the anomaly a sparse series hides).
    * Per-type moments come from decimal-exact sums of the integer counts
    * (order-independent), and the z-score is a fixed IEEE tree, so the
    * oracle binds bitwise; a constant series (sd = 0) flags nothing by
    * guard. Cost: the resample grid + one bounded per-type aggregation.
    */
  def anomalousHours(events: DataFrame, k: Double = 3.0): DataFrame = {
    val series = resampleHourly(events)
      .select(col("event_type"), col("hour_ts"), col("n_events"))
    val stats = series.groupBy(col("event_type")).agg(
      count(lit(1)).as("n_hours"),
      dsum(col("n_events")).as("sc"),
      dsumProd(col("n_events"), col("n_events")).as("scc"))
    val nD = col("n_hours").cast("double")
    val mean = col("sc") / nD
    val sd = sqrt(col("scc") / nD - mean * mean)
    series.join(stats, Seq("event_type"))
      .withColumn("mean_events", mean)
      .withColumn("sd_events", sd)
      .withColumn("z", when(sd > 0,
        (col("n_events").cast("double") - mean) / sd))
      .filter(abs(col("z")) >= k)
      .select(col("event_type"), col("hour_ts"), col("n_events"),
        col("mean_events"), col("sd_events"), col("z"))
      .orderBy(col("event_type"), col("hour_ts"))
  }

  /** Rolling 7-day active users per calendar day (WAU) — EXACT tier. The
    * classic windowed-distinct cannot ride a window function (distinct
    * doesn't decompose), so each (day, user) observation CONTRIBUTES
    * ITSELF to the `windowDays` days it is visible from (a bounded
    * explode), and one day-keyed exact countDistinct finishes the job:
    * the fan-out is ×windowDays on the DAILY-distinct stream — calendar-
    * bounded, never event-proportional. Gap days report their trailing
    * actives too (the grid covers the full extent). The approximate tier
    * for arbitrary ranges is the HLL sketch cube above.
    */
  def rollingActiveUsers(events: DataFrame, windowDays: Int = 7): DataFrame = {
    require(windowDays >= 1, "window must cover at least one day")
    val daily = events.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val grid = daily.agg(min(col("day")).as("mn"), max(col("day")).as("mx"))
      .select(explode(expr("sequence(mn, mx, interval 1 day)")).as("day"))
    val contrib = daily.select(
      explode(expr(s"sequence(day, date_add(day, ${windowDays - 1}), interval 1 day)"))
        .as("day"),
      col("user_id"))
    grid.join(contrib, Seq("day"), "left")
      .groupBy(col("day"))
      .agg(countDistinct(col("user_id")).as("active_users"))
      .orderBy(col("day"))
  }

  /** First-order behavioral transition matrix: for consecutive events of
    * the same user (ordered by ts with event_id as the deterministic
    * tie-break), the count and conditional probability of each
    * (from_type → to_type) step — the Markov-chain view of user behavior
    * that powers next-action prediction and anomaly scoring. Scale shape:
    * ONE user-partitioned window over per-user sequences (bounded by a
    * user's own history, never global), then aggregation over the
    * type×type key space — constant-bounded no matter the volume. The
    * probability is a single IEEE division off integer counts, so the
    * oracle binds bitwise.
    */
  def transitionMatrix(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val steps = events
      .select(col("user_id"), col("event_type").as("from_type"),
        lead(col("event_type"), 1).over(w).as("to_type"))
      .filter(col("to_type").isNotNull)
    val counts = steps.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = counts.groupBy(col("from_type")).agg(sum(col("n")).as("tot"))
    counts.join(totals, Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        (col("n").cast("double") / col("tot").cast("double")).as("p"))
      .orderBy(col("from_type"), col("to_type"))
  }

  /** Two-proportion z-test between experiment arms: per-user conversion
    * flags aggregate to per-arm (n, x), then the pooled z statistic
    *   z = (p_a − p_b) / √(p̂(1−p̂)(1/n_a + 1/n_b)).
    * Every operation here (+,−,×,÷,√) is IEEE correctly-rounded, so with
    * the identical expression tree both engines produce the identical
    * double — unlike ln()-based statistics, this one CAN be oracle-bound
    * bitwise. Scale shape: one user-keyed aggregation (the only shuffle
    * proportional to data), then a two-row arm rollup; the z math runs on
    * a single joined row.
    */
  def abTestConversion(events: DataFrame, arm: Column,
      isConversion: Column): DataFrame = {
    val users = events
      .groupBy(col("user_id"))
      .agg(max(when(isConversion, 1L).otherwise(0L)).as("conv"))
      .withColumn("arm", arm)
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("x"))
    val a = arms.filter(col("arm") === 0)
      .select(col("n").as("n_a"), col("x").as("x_a"))
    val b = arms.filter(col("arm") === 1)
      .select(col("n").as("n_b"), col("x").as("x_b"))
    val joined = a.crossJoin(b) // 1×1
    val pA = col("x_a").cast("double") / col("n_a").cast("double")
    val pB = col("x_b").cast("double") / col("n_b").cast("double")
    val pPool = (col("x_a") + col("x_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    // degenerate experiments (nobody or everybody converted) have zero
    // pooled variance: the statistic is undefined, emitted as NULL rather
    // than tripping engine-specific 0/0 behavior
    val defined = col("x_a") + col("x_b") > 0 &&
      col("x_a") + col("x_b") < col("n_a") + col("n_b")
    joined.select(col("n_a"), col("x_a"), pA.as("p_a"),
      col("n_b"), col("x_b"), pB.as("p_b"),
      when(defined,
        (pA - pB) / sqrt(pPool * (lit(1.0) - pPool) *
          (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double"))))
        .as("z"))
  }

  // ---- persisted mergeable-sketch cube ------------------------------------

  /** Materialize a per-(day, event_type) DataSketches-HLL cube of distinct
    * users — the pre-aggregated serving tier for "distinct users over an
    * arbitrary date range". `approxUserCounts` answers one query by
    * rescanning events; this cube scans the raw stream ONCE, and every
    * later range query touches only sketch rows (day-partitioned, pruned
    * at the directory level). HLL registers are order-independent maxima,
    * so merging per-day sketches over a range is LOSSLESS versus building
    * one sketch over the range's raw events — the estimate is identical,
    * spec-asserted — which is what makes pre-aggregation sound here. At
    * 100 TB: the cube is O(days × event types) rows of ≤ 2^lgK-register
    * binaries; a new day appends one partition, never rewriting resident
    * days (`appendDaySketches`).
    */
  def buildDistinctSketchCube(events: DataFrame, path: String, lgK: Int = 14): Unit =
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sketch"),
        count(lit(1)).as("n_events"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .partitionBy("day").parquet(path)

  /** Append one incoming day's sketch rows — new partitions only, the
    * incremental path (resident days' files untouched, spec-asserted).
    * Replaying a resident day fails FAST (the `InvertedIndex.appendBatch`
    * id-gate contract): the HLL registers themselves are idempotent under
    * a replay, but the `n_events` sums are not — a silent double-append
    * would corrupt every later range report's event counts. The gate is a
    * directory listing, no data read.
    */
  def appendDaySketches(events: DataFrame, path: String, lgK: Int = 14): Unit = {
    val spark = events.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      val resident = fs.listStatus(p).map(_.getPath.getName)
        .filter(_.startsWith("day=")).map(_.stripPrefix("day=")).toSet
      val incoming = events.select(to_date(col("ts")).cast("string").as("d"))
        .distinct().collect().map(_.getString(0))
      val clash = incoming.filter(resident)
      require(clash.isEmpty,
        s"days already in the cube: ${clash.mkString(", ")} — " +
          "sketch appends must not replay resident days (n_events would double)")
    }
    events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(hll_sketch_agg(col("user_id"), lit(lgK)).as("sketch"),
        count(lit(1)).as("n_events"))
      .write.mode(org.apache.spark.sql.SaveMode.Append)
      .partitionBy("day").parquet(path)
  }

  /** Correction path: drop the incoming days' resident partitions, then
    * append fresh sketches — the late-data/backfill complement of the
    * replay gate (which exists precisely so corrections go through THIS
    * explicit door instead of silently double-appending). Directory
    * deletes only; resident days outside the incoming set are untouched.
    */
  def rebuildDaySketches(events: DataFrame, path: String, lgK: Int = 14): Unit = {
    val spark = events.sparkSession
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) {
      events.select(to_date(col("ts")).cast("string").as("d")).distinct()
        .collect().map(_.getString(0))
        .foreach(d => fs.delete(new org.apache.hadoop.fs.Path(s"$path/day=$d"), true))
    }
    appendDaySketches(events, path, lgK)
  }

  /** Serve a date-range distinct-user estimate from the cube: partition
    * pruning cuts the read to the range's day directories, then one
    * union-merge per event type over sketch binaries. No raw event is
    * touched.
    */
  def approxUsersOverRange(spark: org.apache.spark.sql.SparkSession, path: String,
      from: String, to: String): DataFrame =
    Parquet.read(spark, path)
      .filter(col("day").between(from, to))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sketch"), lit(false)))
          .as("approx_users"),
        sum(col("n_events")).as("n_events"))
      .orderBy(col("event_type"))
}
