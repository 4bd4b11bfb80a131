package graft

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The `graft.Bench` battery's result line: a lane that throws is
  * listed, not silently left out of the total. */
class BenchSpec extends AnyFunSuite {

  test("a throwing lane lands in `failed` and the result line parses") {
    val results = mutable.LinkedHashMap[String, Double]()
    results("q1_ok") = Bench.timeLane(())
    results("q2_boom") = Bench.timeLane(
      throw new IllegalStateException("lane broke"))
    results("ingest_layout") = 2.5

    val json = new ObjectMapper().readTree(
      Bench.resultLine(results, "/data/sf0.1"))
    assert(json.get("metric").asText === "total")
    assert(json.get("value").asDouble === results("q1_ok"))
    assert(json.get("failed").size === 1)
    assert(json.get("failed").get(0).asText === "q2_boom")
    // additive: every lane keeps its `queries` key, the failed one at -1
    assert(json.get("queries").size === 3)
    assert(json.get("queries").get("q2_boom").asDouble === -1.0)
    assert(json.get("sf").asText === "/data/sf0.1")
  }
}
