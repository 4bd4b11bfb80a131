package graft

import scala.collection.mutable
import scala.jdk.CollectionConverters._

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

  test("gauges repeat the non-second entries; a failing experiment block is named") {
    val results = mutable.LinkedHashMap[String, Double](
      "q1_ok" -> 1.5, "merge_10pct_dirty" -> 0.7,
      "merge_ratio_full_over_10pct" -> 2.1, "index_total_files" -> 32.0,
      "rowgroup_16k_file_mb" -> 4.2, "zorder_curve_groups" -> 9.0)
    val before = Bench.failedBlocks.size
    Bench.experiment("boom experiment") {
      results("boom_lane") = 1.0
      throw new IllegalStateException("block broke")
    }
    Bench.experiment("fine experiment")(results("fine_lane") = 0.2)
    assert(Bench.failedBlocks.drop(before) === Seq("boom experiment"))

    val json = new ObjectMapper().readTree(
      Bench.resultLine(results, "/data/sf0.1", Bench.failedBlocks.drop(before).toSeq))
    assert(json.get("value").asDouble === 1.5)
    // additive: every entry keeps its `queries` key
    assert(json.get("queries").size === results.size)
    val gauges = json.get("gauges")
    assert(gauges.fieldNames.asScala.toSet === Set("merge_ratio_full_over_10pct",
      "index_total_files", "rowgroup_16k_file_mb", "zorder_curve_groups"))
    assert(gauges.get("index_total_files").asDouble === 32.0)
    assert(json.get("failedBlocks").size === 1)
    assert(json.get("failedBlocks").get(0).asText === "boom experiment")
  }
}
