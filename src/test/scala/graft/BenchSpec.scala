package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench detail file stays valid JSON whatever SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_SF_DIR hold. */
class BenchSpec extends AnyFunSuite {
  private def detail(cpus: String, sf: String = "/data/sf0.1") = new ObjectMapper().readTree(
    Bench.detailJson("1.000", "2.000", "1.050", sf, cpus, "note",
      """{"v7_pq_topk":{"cold":1.0,"median":1.0,"samples":[1.0,1.0,1.0]}}"""))

  test("detail JSON writes a numeric cpu count as a number") {
    val j = detail(" 8 ")
    assert(j.get("cpus").isInt && j.get("cpus").asInt === 8)
    assert(j.get("queries").get("v7_pq_topk").get("median").asDouble === 1.0)
  }

  test("detail JSON omits a non-numeric cpu count instead of breaking the file") {
    for (raw <- Seq("4x", "*", "", "8, \"x\": 1")) {
      val j = detail(raw)
      assert(!j.has("cpus"), raw)
      assert(j.get("total").asDouble === 1.0, raw)
      assert(j.get("scaling_note").asText === "note", raw)
    }
  }

  test("detail JSON keeps an sf path with quotes and backslashes intact") {
    for (sf <- Seq("/data/sf \"0.1\"", "C:\\data\\sf0.1", "/data/sf\\\"0.1")) {
      val j = detail("8", sf)
      assert(j.get("sf").asText === sf, sf)
      assert(j.get("cpus").asInt === 8, sf)
    }
  }
}
