package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `graft.Bench`'s last stdout line: one JSON object within
  * `Bench.SummaryMaxBytes` bytes, however many queries fail.
  */
class BenchSpec extends AnyFunSuite {
  private val json = new ObjectMapper()

  private def parsed(failed: Seq[String]) = {
    val line = Bench.summaryLine(373.4567, "/root/testdata/sf0.1", "32", 0.42, failed)
    assert(line.getBytes("UTF-8").length <= Bench.SummaryMaxBytes, line)
    assert(!line.contains('\n'))
    json.readTree(line)
  }

  test("with no failures the summary lists none") {
    val s = parsed(Nil)
    assert(s.get("metric").asText == "total")
    assert(s.get("value").asDouble == 373.457)
    assert(s.get("sf").asText == "sf0.1")
    assert(s.get("cpus").asInt == 32)
    assert(s.get("load_avg_start").asDouble == 0.42)
    assert(s.get("failed").isArray && s.get("failed").size == 0)
    assert(s.get("queries_file").asText == "BENCH_LINE.json")
  }

  test("failures are named while they fit, else counted") {
    val few = Seq("vec_delete_search", "doc_\"quoted\"")
    assert(parsed(few).get("failed").elements().asScala.map(_.asText).toSeq == few)
    val all = SparkEntry.queries.keys.toSeq.sorted
    assert(all.size == 206)
    val s = parsed(all)
    assert(s.get("failed").isInt && s.get("failed").asInt == 206)
  }
}
