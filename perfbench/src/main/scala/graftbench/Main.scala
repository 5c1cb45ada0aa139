package graftbench

import java.lang.management.ManagementFactory
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Which layer a job's work belongs to, from its call site (the stack of the
  * action that started it, innermost frame first).
  */
object Layers {
  def indexLeg(site: String): Boolean =
    site.contains("graft.vector.IndexPipeline") || site.contains("graft.vector.VectorIndex")
}

/** Benchmark process: one workload, one seed, one measured loop. Writes the
  * full result as JSON to `--out`; `perfbench/run.py` builds the program,
  * launches this, checks the result and prints the summary line.
  *
  * Arguments: --workload tool_session|ingest_gate|batch_pipeline --seed N
  *   --seconds S --trace 0|1 --work DIR --out FILE --cores N [--mode run|gen]
  */
object Main {
  val Workloads = Seq("tool_session", "ingest_gate", "batch_pipeline")
  /** Set-ups per run; `setup_s` takes their median. */
  val Setups = 3

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", "")
    val seed = a("seed").toLong
    val seconds = a.getOrElse("seconds", "10").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    require(a.get("mode").contains("gen") || Workloads.contains(workload),
      s"unknown workload '$workload' (one of ${Workloads.mkString(", ")})")

    val spark = SparkSession.builder()
      .appName(s"graft-perfbench-$workload")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop-tmp")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1000.0
    val tracer = new Tracer(spark)
    val checks = new Checks
    val ctx = new Ctx(spark, seed, tracer, checks)
    def make(): Workload = workload match {
      case "tool_session" => new ToolSession(ctx)
      case "ingest_gate" => new IngestGate(ctx)
      case "batch_pipeline" => new BatchPipeline(ctx)
    }

    val result: Map[String, Any] =
      if (a.get("mode").contains("gen")) Map("inputs" -> generate(ctx, work))
      else {
        val built = (0 until Setups).map { i =>
          val w = make()
          val t0 = System.nanoTime()
          w.setup(s"$work/setup$i")
          w -> (System.nanoTime() - t0) / 1e9
        }
        val setupTimes = built.map(_._2)
        val w = built.last._1
        val rec = new Rec
        if (trace) tracer.enable()
        w.measure(rec, seconds)
        tracer.finish()
        val e2e = w.endToEnd(rec) ++ Map(
          "setup_s" -> (sessionS + Stats.median(setupTimes)),
          "peak_rss_mb" -> peakRssMb)
        val attribution = if (trace) Some(new Attribution(tracer)) else None
        val layerVals = attribution.map { at =>
          checks("trace.every_job_attributed_to_one_span", at.unattributed.isEmpty,
            s"${at.unattributed.size} of ${at.jobs.size} jobs have no span")
          checks("trace.no_negative_self_time", at.spans.forall(at.selfMs(_) >= -1e-6),
            "a span's children outlast it")
          w.layers(at, rec) ++ sparkLayers(at, cores) ++ Map(
            "trace.jobs_observed" -> at.jobs.size.toDouble,
            "trace.jobs_attributed" -> at.jobSpan.size.toDouble,
            "trace.spans" -> at.spans.size.toDouble,
            "trace.min_self_ms" -> at.spans.map(at.selfMs).minOption.getOrElse(0.0))
        }
        Map(
          "end_to_end" -> e2e,
          "per_layer" -> layerVals,
          "attempted" -> rec.nAttempted,
          "failed" -> rec.failures.size,
          "failures" -> rec.failures.map { case (op, err) => Map("op" -> op, "error" -> err) },
          "ops" -> rec.attempted,
          "timed_wall_s" -> rec.wallMs / 1000,
          "samples" -> rec.samples.map { case (k, v) => k -> v.size },
          "setup_times_s" -> setupTimes,
          "session_start_s" -> sessionS,
          "sizes" -> w.sizes,
          "traced_jobs_by_site" -> attribution.map(_.jobsBySite))
      }
    val out = result ++ Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "checks" -> checks.results.map { case (k, (p, f, d)) =>
        k -> Map("passed" -> p, "failed" -> f, "first_failure" -> d) },
      "correct" -> checks.allOk,
      "provenance" -> Map(
        "local_n" -> cores, "shuffle_partitions" -> cores, "setups_per_run" -> Setups,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
        "jvm_load_avg_start" -> loadStart, "jvm_load_avg_end" -> os.getSystemLoadAverage,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version")))
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new java.io.File(a("out")), out)
    spark.stop()
  }

  /** Driver peak resident set (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024
  }

  /** Engine-level sums over the measured operations (the top-level spans). */
  def sparkLayers(a: Attribution, cores: Int): Map[String, Double] = {
    val ops = a.spans.filter(s => s.parent == 0 && s.layer != "trace")
    val n = math.max(1, ops.size).toDouble
    val jobs = ops.flatMap(a.jobsOf)
    val inJobMs = ops.map(a.inJobMs).sum
    Map(
      "spark.jobs" -> jobs.size / n,
      "spark.plan_ms" -> ops.map(a.planMs).sum / n,
      "spark.driver_only_share" -> ops.map(a.driverOnlyMs).sum / math.max(1e-9, ops.map(_.wallMs).sum),
      "spark.task_cpu_s" -> jobs.map(_.cpuNs).sum / 1e9 / n,
      "spark.core_util" -> jobs.map(_.runMs).sum / math.max(1e-9, inJobMs * cores),
      "spark.shuffle_mb" -> jobs.map(_.shuffleWrite).sum / 1e6 / n,
      "spark.spill_mb" -> jobs.map(_.spill).sum / 1e6 / n)
  }

  /** Writes every generated input table for the seed and returns a digest of
    * each (the determinism test compares them across runs and seeds).
    */
  def generate(ctx: Ctx, work: String): Map[String, String] = {
    import ctx.spark.implicits._
    val s = ctx.seed
    val dir = s"$work/gen"
    val crm = Gen.writeCrm(ctx.spark, s, s"$dir/crm").keys.toSeq.sorted
      .map(t => s"crm.$t" -> Gen.rowDigest(ctx.spark, s"$dir/crm/$t.parquet"))
    val tables = Seq(
      "ingest.documents" -> Gen.residentDocs(s, IngestGate.ResidentDocs).toDF(),
      "ingest.embeddings" -> IngestGate.residentEmbeddings(s).toDF(),
      "pipeline.documents" -> Gen.amplifyDocs(Gen.corpusDocs(s, BatchPipeline.BaseDocs),
        BatchPipeline.Amplify).toDF(),
      "pipeline.embeddings" -> Gen.amplifyEmb(Gen.embeddings(s, BatchPipeline.BaseEmbeddings),
        BatchPipeline.Amplify).toDF())
    crm.toMap ++ tables.map { case (n, df) =>
      Gen.write(df, s"$dir/$n")
      n -> Gen.rowDigest(ctx.spark, s"$dir/$n")
    } ++ Map("ingest.images" -> {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      IngestGate.imageIds.foreach(id => md.update(Gen.pixels(s, id).map(_.toByte)))
      md.digest().map("%02x".format(_)).mkString
    })
  }
}
