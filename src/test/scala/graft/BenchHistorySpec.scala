package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The bench's record of a suite run: the k-run summary of one query
  * and the stdout / history lines [[Bench.lines]] builds from them.
  * Pins the stdout contract the driver parses, the `queries` map
  * tools/bench_compare.py reads, and that a failed query is listed but
  * never counted.
  */
class BenchHistorySpec extends AnyFunSuite {
  private val sf = "/data/sf0.1"
  private def parse(line: String): JsonNode = new ObjectMapper().readTree(line)
  private def keys(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("Timing summarizes its runs: min, median and spread") {
    val t = Bench.Timing(Seq(0.5, 0.2, 0.3), cpu = 2.4, failed = false)
    assert(t.min == 0.2)
    assert(t.median == 0.3)
    assert(math.abs(t.spread - 0.3) < 1e-12)
    // an even number of runs (a failed query's partial record) takes the mean of the middle two
    assert(Bench.Timing(Seq(4.0, 1.0), cpu = 0, failed = true).median == 2.5)
  }

  test("a query that fails in one run is listed and left out of every total") {
    val results = Seq(
      "a" -> Bench.Timing(Seq(1.0, 2.0, 3.0), cpu = 6.0, failed = false),
      "b" -> Bench.Timing(Seq(0.5, 0.7, 0.6), cpu = 3.0, failed = false),
      "c" -> Bench.Timing(Seq(10.0), cpu = 9.0, failed = true))
    val (summary, history) = Bench.lines(results, sf, "2026-01-01T00:00:00Z")
    val out = parse(summary)
    val hist = parse(history)
    for (n <- Seq(out, hist)) {
      assert(n.get("metric").asText == "total" && n.get("unit").asText == "sec")
      assert(n.get("value").asDouble == 1.5) // minima 1.0 + 0.5
      assert(n.get("median_total").asDouble == 2.6) // medians 2.0 + 0.6
      assert(n.get("cpu_total").asDouble == 3.0) // (6.0 + 3.0) / Runs
      assert(n.get("nqueries").asInt == 3 && n.get("failed").asInt == 1)
      assert(n.get("failed_queries").elements().asScala.map(_.asText).toSeq == Seq("c"))
      assert(n.get("sf").asText == sf)
    }
    assert(keys(out) == Set("metric", "value", "unit", "ts", "median_total", "cpu_total",
      "nqueries", "failed", "failed_queries", "queries", "sf"))
    assert(keys(out.get("queries")) == Set("a", "b"))
    // history: every query's minimum (-1 when failed), its runs, and the action
    assert(hist.get("action").asText == "noop")
    assert(hist.get("queries").get("c").asDouble == -1.0)
    assert(hist.get("queries").get("b").asDouble == 0.5)
    assert(hist.get("runs").get("a").elements().asScala.map(_.asDouble).toSeq == Seq(1.0, 2.0, 3.0))
  }

  test("stdout keeps the 20 most expensive queries, history keeps all") {
    val results = (1 to 25).map(i => f"q$i%02d" -> Bench.Timing(Seq(i.toDouble), 0, failed = false))
    val (summary, history) = Bench.lines(results, sf, "ts")
    assert(keys(parse(summary).get("queries")) == (6 to 25).map(i => f"q$i%02d").toSet)
    assert(keys(parse(history).get("queries")).size == 25)
  }

  test("numbers use Locale.ROOT whatever the default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val (summary, history) = Bench.lines(
        Seq("a" -> Bench.Timing(Seq(106.5004, 107.0), 1.25, failed = false)), sf, "ts")
      assert(summary.contains("\"value\":106.500,"))
      assert(history.contains("\"runs\":{\"a\":[106.500,107.000]}"))
      assert(parse(summary).get("queries").get("a").asDouble == 106.5)
    } finally java.util.Locale.setDefault(saved)
  }
}
