package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout summary line fits the driver's ~2,000-char capture
  * window by construction: every free-text field is cut after quoting. */
class BenchSummarySpec extends AnyFunSuite {
  private val names = SparkEntry.queries.keys.toSeq.sorted
  private val controlChars = (0 until 40).map(i => (i % 32).toChar).mkString

  private def results(failing: Set[String], median: Double) = names.map { n =>
    Bench.Result(n, 12.345678901234567, 1.2345678901234567, median,
      if (failing(n)) Some(controlChars) else None)
  }

  private def check(line: String): JsonNode = {
    assert(line.length <= Bench.SummaryMaxChars, s"${line.length} chars")
    new ObjectMapper().readTree(line)
  }

  test("168 queries, the 8 longest names failing with control-char messages, a 300-char sf") {
    val failing = names.sortBy(n => (-n.length, n)).take(8).toSet
    val json = check(Bench.summary(results(failing, 1234.5678901234567), None,
      59.87654321098765, 0.7012345678901234, 0.2951234567890123, "s" * 300))
    assert(json.get("n_queries").asInt == names.size)
    assert(json.get("n_errors").asInt == 8)
    // failed and top-listed names stay whole: the perf gate keys on them
    assert(json.get("errors").fieldNames.asScala.toSet == failing)
    assert(json.get("top_steady_median").size == Bench.SummaryTop)
    assert(json.get("top_steady_median").fieldNames.asScala.forall(names.contains))
  }

  test("the bound holds for names, times and messages beyond the registry's") {
    val long = (1 to 168).map(i => s"q${i}_" + "x" * 200)
    val rs = long.map(n => Bench.Result(n, 999999.999, 999999.999, 999999.999,
      Some(controlChars * 10)))
    check(Bench.summary(rs, Some("\"" * 500), 1.2345678901234567E-5,
      1.2345678901234567E-5, 1.2345678901234567E-5, "\u0001" * 300))
  }
}
