package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** `graft.tools.Profile`'s record on a real catalog query. */
class ProfileSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("record: q09 reports jobs, stages, executor time, planning phases and a plan") {
    val r = tools.Profile.record(spark, sf, "q09_asof_join", runs = 2)
    assert(r.jobs >= 1)
    assert(r.stages.nonEmpty)
    assert(r.execRunSumMs > 0)
    assert(Set("analysis", "optimization", "planning").subsetOf(r.phasesMs.keySet), r.phasesMs)
    assert(r.plan.nonEmpty)
    assert(r.buildS > 0 && r.execS > 0)
    // the warm run compiled q09's classes; the timed runs reuse them
    assert(r.codegenCompiles == 0 && r.janinoMs == 0)
    assert(r.jitMs >= 0 && r.gcMs >= 0)
    val json = new ObjectMapper().readTree(r.json)
    assert(json.get("query").asText == "q09_asof_join")
    assert(json.get("stage_rows").size == r.stages.size)
    assert(json.get("codegen_compiles").asLong == 0)
    assert(json.has("janino_ms") && json.has("jit_ms") && json.has("gc_ms"))
  }

  test("record: an unknown query name raises an error naming it") {
    val e = intercept[NoSuchElementException](
      tools.Profile.record(spark, sf, "q_no_such_query", runs = 1))
    assert(e.getMessage.contains("q_no_such_query"))
  }
}
