package graft

import org.apache.spark.sql.SparkSession

/** Driver-contract benchmark: one JSON line with per-query seconds at
  * SPARK_GRAFT_SF_DIR, then a summary of at most [[SummaryMaxBytes]] bytes
  * as the last stdout line ([[summaryLine]]). Materialization uses the noop
  * sink so every column of every operator is actually computed (count()
  * would let Catalyst prune the projections we mean to measure); a generic
  * warmup pass absorbs session/JIT/parquet-footer startup so per-query
  * numbers reflect steady state.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default matches the driver box (local[32], shuffle partitions 32);
    // SPARK_GRAFT_CPUS overrides for targeted runs on smaller hosts.
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Ambient load BEFORE we spin anything up: pre-existing host contention
    // is the one thing that invalidates a bench comparison across rounds.
    val loadAvgStart = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // sidecar point-lookups push batch-key In predicates to parquet
      // as OR-of-eq up to 1000 keys (page/row-group exact; see KeyedSidecar)
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def materialize(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.mode("overwrite").format("noop").save()

    // WARMUP PHASE (documented contract, not a side effect): per-query
    // numbers below measure steady state, so the one-time costs every
    // query family pays — parquet footer reads, codegen + JIT of each
    // expression family's stack — are absorbed here, once, on tiny
    // inputs. One representative per codegen family; when a NEW family of
    // registered queries shows first-call JIT absorption (first-query
    // wall ≫ isolated wall), add its representative here rather than
    // reading its first query's number as a regression.
    def warmup(): Unit = {
      // every table: footer reads + the scan stack
      Tables.names.foreach {
        case "events" => Tables.events(spark, sfDir).count()
        case n => Tables.load(spark, sfDir, n).count()
      }
      // one shuffle + one broadcast join
      materialize(ops.Relational.pricingSummary(Tables.lineitem(spark, sfDir)))
      materialize(ops.Events.topUsers(Tables.events(spark, sfDir), Tables.customer(spark, sfDir)))
      // md5/explode/band joins (dedup family)
      materialize(ops.Dedup.minhashDupPairs(Tables.documents(spark, sfDir).limit(40)))
      // windows + the typed top-k aggregate
      materialize(graft.functions.TopKAggregator.topEventsPerUser(
        Tables.events(spark, sfDir).limit(1000)))
      // codegen'd vector fold expressions
      materialize(ops.Similarity.knnL2(Tables.embeddings(spark, sfDir).limit(200)))
      // the CRM view stack (typed content structs, earliest-k aggregate,
      // broadcast dims) is its own codegen family, and crm_* sort FIRST —
      // without this the alphabetically-first heavy CRM query absorbs the
      // stack's whole JIT (measured ~2× vs isolated in r9)
      materialize(crm.CrmOps.companyActivity(spark, sfDir))
    }
    warmup()

    // Optional comma-separated name filter for targeted timing runs
    // (SPARK_GRAFT_ONLY=doc_blocked_jaccard,doc_minhash_pairs).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // A query that throws is listed by name under "failed" — never timed,
    // never in `queries` or `total`.
    val outcomes = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
      .map { case (name, fn) =>
      val t0 = System.nanoTime()
      try { materialize(fn(spark, sfDir)); Right(name -> (System.nanoTime() - t0) / 1e9) }
      catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Left(name)
      }
    }
    val results = outcomes.collect { case Right(r) => r }
    val failedNames = outcomes.collect { case Left(n) => n }
    val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // 1-minute system load average at end of run: lets a reader separate
    // host starvation (load ≫ nCPUs from OTHER processes) from real
    // regressions when comparing rounds (the r4 BENCH artifact was
    // contaminated exactly this way). −1.0 when the platform can't say.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // provenance: cross-round comparison is valid ONLY between idle
    // captures — the r9 final-vs-idle split cost an analysis a false
    // regression. Keyed on the START load alone: the bench's own
    // local[32] executor threads always raise the END average, so only
    // pre-existing contention invalidates a capture.
    val prov = if (loadAvgStart < 1.0) "idle" else "loaded"
    val line = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","queries":$qs,"failed":$failed,"sf":"$sfDir","load_avg_start":${f"$loadAvgStart%.2f"},"load_avg_end":${f"$loadAvg%.2f"},"cpus":$cpus,"provenance":"$prov; compare cross-round idle-to-idle only"}"""
    // Mirror the contract line to BENCH_LINE.json (cwd + repo root when they
    // differ): at 206 queries the line is ~6 KB and a capture that keeps only
    // a bounded output tail truncates it mid-JSON — the file copy is
    // identical bytes and can't be lost that way. stdout stays the contract:
    // the full line, then the summary as the process's final line.
    def mirror(dir: String): Unit =
      try java.nio.file.Files.write(java.nio.file.Paths.get(dir, "BENCH_LINE.json"),
        (line + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    mirror(".")
    val repoRoot = new java.io.File("BENCH_LINE.json").getAbsoluteFile.getParentFile
    if (!new java.io.File(repoRoot, "build.sbt").exists) {
      // cwd isn't the repo root (e.g. launched from elsewhere): best-effort
      // second copy next to this class's source tree if resolvable.
      sys.env.get("SPARK_GRAFT_REPO_ROOT").foreach(mirror)
    }
    spark.stop()
    println(line)
    println(summaryLine(total, sfDir, cpus, loadAvgStart, failedNames))
  }

  /** Bound on the summary line: a reader that keeps only a short stdout
    * tail still gets it whole.
    */
  val SummaryMaxBytes = 300

  /** The last stdout line: the total, the scale factor (the data
    * directory's name), cpus, the start load and the failed queries, by name
    * when they all fit in [[SummaryMaxBytes]], else their count. The
    * per-query seconds are in the full line and its `BENCH_LINE.json` copy.
    */
  def summaryLine(total: Double, sfDir: String, cpus: String, loadAvgStart: Double,
      failed: Seq[String]): String = {
    def str(s: String) = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")
    def num(d: Double, digits: Int) = s"%.${digits}f".formatLocal(java.util.Locale.ROOT, d)
    def line(failedJson: String) = s"""{"metric":"total","value":${num(total, 3)},""" +
      s""""sf":${str(new java.io.File(sfDir).getName.take(40))},""" +
      s""""cpus":${cpus.toIntOption.fold(str(cpus.take(10)))(_.toString)},""" +
      s""""load_avg_start":${num(loadAvgStart, 2)},"failed":$failedJson,""" +
      s""""queries_file":"BENCH_LINE.json"}"""
    val named = line(failed.map(str).mkString("[", ",", "]"))
    if (named.getBytes("UTF-8").length <= SummaryMaxBytes) named else line(failed.size.toString)
  }
}
