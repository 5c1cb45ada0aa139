package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Hadoop local-filesystem write counters. Parquet writes, index sidecars and
  * compaction rewrites all go through the Hadoop FileSystem API, so the
  * "file" scheme's statistics count every byte the program persists (shuffle
  * and checkpoint blocks do not go through it and are not counted).
  */
object FsStats {
  @annotation.nowarn("cat=deprecation")
  private def all = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
    .filter(_.getScheme == "file")
  def bytesWritten: Long = all.map(_.getBytesWritten).sum
}

/** One span: a call from the benchmark into one layer's public function.
  * Times are epoch milliseconds with sub-millisecond precision, on the same
  * clock as the listener's job timestamps.
  */
final case class Span(id: Long, layer: String, name: String, parent: Long,
    startMs: Double, var endMs: Double = -1, var bytesWritten: Long = 0) {
  def wallMs: Double = endMs - startMs
  def key: String = s"$layer.$name"
}

/** A Spark job as the listener saw it, with its tasks' metrics summed. */
final class JobRec(val id: Int, val startMs: Long, val spanProp: Option[Long],
    val site: String) {
  @volatile var endMs: Long = -1
  var runMs, cpuNs, inputBytes, inputRecords, shuffleRead, shuffleWrite, spill = 0L
  var tasks = 0
}

/** Span tracer built only from public Spark hooks: a `SparkListener` for jobs
  * and task metrics, a `QueryExecutionListener` for Catalyst phase times, and
  * a job local property carrying the id of the span open on the client thread.
  * Spans nest on the one client thread. When disabled, `span` only runs its
  * body, so untraced runs pay nothing but the call.
  */
final class Tracer(spark: SparkSession) {
  import Tracer.SpanKey
  private val sc = spark.sparkContext
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6

  val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  private var nextId = 1L
  @volatile private var on = false
  def enabled: Boolean = on

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  /** SQL execution id -> the call site on the thread that started it. */
  private val executionSite = new ConcurrentHashMap[String, String]()
  /** (analysis start, epoch ms; analysis + optimization + planning ms). */
  val plans = new ConcurrentLinkedQueue[(Long, Double)]()
  @volatile private var sentinel: Option[(Long, CountDownLatch)] = None

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        executionSite.put(s.executionId.toString, s.details); ()
      case _ =>
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
      // A SQL job's own call site is a pool thread's stack when the engine
      // submits it asynchronously (adaptive stages, broadcasts); its
      // execution's call site is the caller's.
      val site = prop("spark.sql.execution.id").flatMap(id => Option(executionSite.get(id)))
        .getOrElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).getOrElse(""))
      val j = new JobRec(e.jobId, e.time, prop(SpanKey).map(_.toLong), site)
      jobs.put(e.jobId, j)
      e.stageIds.foreach(s => stageJob.put(s, j))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.get(e.jobId)
      if (j != null) {
        j.endMs = e.time
        sentinel.foreach { case (id, latch) => if (j.spanProp.contains(id)) latch.countDown() }
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val j = stageJob.get(e.stageId)
      val m = e.taskMetrics
      if (j != null && m != null) {
        j.tasks += 1
        j.runMs += m.executorRunTime
        j.cpuNs += m.executorCpuTime
        j.inputBytes += m.inputMetrics.bytesRead
        j.inputRecords += m.inputMetrics.recordsRead
        j.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ph = qe.tracker.phases
      val ms = Seq("analysis", "optimization", "planning").flatMap(ph.get)
        .map(_.durationMs.toDouble).sum
      val t = ph.get("analysis").map(_.startTimeMs).getOrElse(System.currentTimeMillis())
      plans.add((t, ms))
    }
  }

  private def listenerManager =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def enable(): Unit = {
    sc.addSparkListener(listener)
    listenerManager.register(qeListener)
    on = true
  }

  /** Stop tracing after every event already posted has been delivered: a
    * sentinel job runs inside its own span and its end event, queued behind
    * everything before it, releases the wait.
    */
  def finish(): Unit = if (on) {
    val latch = new CountDownLatch(1)
    span("trace", "sentinel") {
      sentinel = Some((stack.head.id, latch))
      sc.parallelize(Seq(1), 1).count()
    }
    latch.await(30, TimeUnit.SECONDS)
    on = false
    sc.removeSparkListener(listener)
    listenerManager.unregister(qeListener)
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val s = Span(nextId, layer, name, parent.map(_.id).getOrElse(0L), nowMs)
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      val b0 = FsStats.bytesWritten
      try body
      finally {
        s.endMs = nowMs
        s.bytesWritten = FsStats.bytesWritten - b0
        stack = stack.tail
        sc.setLocalProperty(SpanKey, parent.map(_.id.toString).orNull)
      }
    }
}

object Tracer {
  val SpanKey = "graftbench.span"
}

/** Attribution of the traced jobs and plans to spans, and the per-span sums
  * the per-layer metrics are built from.
  */
final class Attribution(t: Tracer) {
  val spans: Seq[Span] = t.spans.toSeq.filter(_.endMs >= 0)
  private val byId = spans.map(s => s.id -> s).toMap
  val children: Map[Long, Seq[Span]] = spans.groupBy(_.parent)

  /** Innermost span open at `ms`: spans nest on one thread, so the latest
    * start among the spans containing the instant is the innermost.
    */
  private def containing(ms: Double): Option[Span] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs).maxByOption(_.startMs)

  val jobs: Seq[JobRec] = t.jobs.values.asScala.toSeq.sortBy(_.id)
  /** A job belongs to the span open on the client thread when it started:
    * the span id the job carries, or, for a job submitted from a thread that
    * did not inherit it, the innermost span containing its start.
    */
  val jobSpan: Map[Int, Span] = jobs.flatMap { j =>
    j.spanProp.flatMap(byId.get).orElse(containing(j.startMs.toDouble)).map(j.id -> _)
  }.toMap
  val unattributed: Seq[JobRec] = jobs.filterNot(j => jobSpan.contains(j.id))
  private val ownJobs: Map[Long, Seq[JobRec]] =
    jobs.filter(j => jobSpan.contains(j.id)).groupBy(j => jobSpan(j.id).id)
  val planBySpan: Map[Long, Double] = t.plans.asScala.toSeq
    .flatMap { case (ms, d) => containing(ms.toDouble).map(_.id -> d) }
    .groupMapReduce(_._1)(_._2)(_ + _)

  def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
  def jobsOf(s: Span): Seq[JobRec] = subtree(s).flatMap(x => ownJobs.getOrElse(x.id, Nil))
  def planMs(s: Span): Double = subtree(s).map(x => planBySpan.getOrElse(x.id, 0.0)).sum

  /** Length of the union of job intervals, clipped to [lo, hi]. */
  def unionMs(js: Seq[JobRec], lo: Double, hi: Double): Double = {
    val iv = js.map(j => (math.max(lo, j.startMs.toDouble),
      math.min(hi, if (j.endMs < 0) hi else j.endMs.toDouble)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN) { curA = a; curB = b }
      else if (a <= curB) curB = math.max(curB, b)
      else { total += curB - curA; curA = a; curB = b }
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
  /** Jobs per innermost program frame of their call site. */
  def jobsBySite: Map[String, Int] = jobs
    .map(j => j.site.split("\n").find(_.startsWith("graft.")).getOrElse("(none)"))
    .groupBy(identity).map { case (k, v) => k -> v.size }

  def inJobMs(s: Span): Double = unionMs(jobsOf(s), s.startMs, s.endMs)
  def driverOnlyMs(s: Span): Double = s.wallMs - inJobMs(s)
  /** Span wall minus the part of it its child spans cover. */
  def selfMs(s: Span): Double =
    s.wallMs - children.getOrElse(s.id, Nil).map(_.wallMs).sum
}
