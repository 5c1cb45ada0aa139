package graftbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession

/** Timings and failures of one measured loop. Every operation runs through
  * [[op]]: a thrown operation is counted as failed, listed by name, and never
  * recorded as a timing.
  */
final class Rec {
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  val attempted = mutable.LinkedHashMap[String, Int]()
  val failures = mutable.ArrayBuffer[(String, String)]()
  /** Named sums (rows, payload bytes, ...) the workloads accumulate. */
  val counters = mutable.LinkedHashMap[String, Double]()
  var wallMs = 0.0

  def add(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
  def count(name: String): Double = counters.getOrElse(name, 0.0)

  def op[T](kind: String)(body: => T): Option[T] = {
    attempted(kind) = attempted.getOrElse(kind, 0) + 1
    val t0 = System.nanoTime()
    try {
      val r = body
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += (System.nanoTime() - t0) / 1e6
      Some(r)
    } catch {
      case NonFatal(e) =>
        failures += kind -> Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        None
    }
  }

  def ms(kinds: String*): Seq[Double] = kinds.flatMap(k => samples.getOrElse(k, Nil))
  def nAttempted: Int = attempted.values.sum
  def nDone(kinds: String*): Int = ms(kinds: _*).size
}

object Stats {
  /** Linear-interpolated quantile (the numpy/`statistics` "inclusive" rule). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Output checks: each named check counts passes and keeps its first failure. */
final class Checks {
  val results = mutable.LinkedHashMap[String, (Int, Int, String)]()
  def apply(name: String, ok: Boolean, detail: => String = ""): Unit = {
    val (p, f, d) = results.getOrElse(name, (0, 0, ""))
    results(name) =
      if (ok) (p + 1, f, d) else (p, f + 1, if (d.isEmpty) detail.take(300) else d)
  }
  def allOk: Boolean = results.values.forall(_._2 == 0)
}

final class Ctx(val spark: SparkSession, val seed: Long, val tracer: Tracer,
    val checks: Checks) {
  def span[T](layer: String, name: String)(body: => T): T = tracer.span(layer, name)(body)
}

/** One workload: set up in a fresh directory, then measure for a fixed time. */
trait Workload {
  def setup(dir: String): Unit
  def measure(rec: Rec, seconds: Double): Unit
  /** End-to-end values of a measured loop, plus workload-specific extras. */
  def endToEnd(rec: Rec): Map[String, Double]
  /** Per-layer values of a traced loop. */
  def layers(a: Attribution, rec: Rec): Map[String, Double]
  /** Input sizes and layout facts recorded with every result. */
  def sizes: Map[String, Any]

  /** Run `body` until `seconds` have passed (at least once); returns wall ms. */
  protected def loop(rec: Rec, seconds: Double)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    var i = 0
    while (i == 0 || System.nanoTime() < deadline) { body(i); i += 1 }
    rec.wallMs = (System.nanoTime() - t0) / 1e6
  }
}
