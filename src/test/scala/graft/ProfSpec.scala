package graft

import graft.tools.Prof

class ProfSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("Prof.run meters every run of a gate") {
    val recs = Prof.run(spark, dir, Seq("p_from_list"), 2)
    assert(recs.map(r => (r.gate, r.run)) == Seq("p_from_list" -> 1, "p_from_list" -> 2))
    recs.foreach { r =>
      val l = r.layers.toMap
      assert(l("exec.jobs") >= 1 && l("exec.tasks") >= 1, l)
    }
    assert(Prof.report(recs).exists(_.startsWith("PROF p_from_list min_warm_wall_s=")))
  }

  test("Prof prints an AQE stage job at its query's call site") {
    // q1_agg's aggregate keeps a shuffle, so one of its jobs is an AQE stage
    val trace = Prof.report(Prof.run(spark, dir, Seq("q1_agg"), 1))
      .filter(_.contains("   job "))
    assert(trace.exists(_.endsWith("(stage)")), trace.mkString("\n"))
    assert(!trace.exists(_.contains("CompletableFuture.java")), trace.mkString("\n"))
  }

  test("Prof.run fails fast on an unknown gate name") {
    val e = intercept[IllegalArgumentException](
      Prof.run(spark, dir, Seq("p_from_list", "no_such_gate"), 1))
    assert(e.getMessage.contains("no_such_gate"))
  }
}
