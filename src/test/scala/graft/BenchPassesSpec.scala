package graft

import org.scalatest.funsuite.AnyFunSuite

/** A query that throws must not count as a fast query: Bench's pass loop
  * lists it as failed and keeps it, and its counters, out of the timed
  * results. */
class BenchPassesSpec extends AnyFunSuite {
  // stands in for SparkCounters.measure: runs the body, returns a token
  private def counting(): (() => Unit) => Int = {
    var n = 0
    run => { run(); n += 1; n }
  }

  test("a throwing query is failed, not timed") {
    var cleanups = 0
    var flakyRuns = 0
    val queries = Seq[(String, () => Unit)](
      "boom" -> (() => throw new RuntimeException("boom")),
      "ok" -> (() => Thread.sleep(5)),
      // succeeds in pass 1, throws in pass 2: still a failure
      "flaky" -> (() => { flakyRuns += 1
        if (flakyRuns == 2) throw new IllegalStateException("flaky") }))
    val (timed, failed) =
      Bench.timePasses(queries, 2, () => cleanups += 1)(counting())
    assert(failed == Seq("boom", "flaky"))
    assert(timed.map(_._1) == Seq("ok"))
    assert(timed.head._2 >= 0.005)
    assert(cleanups == 6, "cleanup runs after every query run, failed or not")
  }

  test("a failed query carries no counters; a timed one keeps its kept pass's") {
    var okRuns = 0
    var flakyRuns = 0
    val queries = Seq[(String, () => Unit)](
      // pass 1 slow, pass 2 fast: the counters kept are pass 2's
      "ok" -> (() => { okRuns += 1; Thread.sleep(if (okRuns == 1) 60 else 5) }),
      "flaky" -> (() => { flakyRuns += 1
        if (flakyRuns == 2) throw new IllegalStateException("flaky") }))
    val (timed, failed) = Bench.timePasses(queries, 2, () => ())(counting())
    assert(failed == Seq("flaky"))
    // tokens in run order: ok 1, flaky 2, ok 3, then flaky throws
    assert(timed.map(t => t._1 -> t._3) == Seq("ok" -> 3))
    assert(timed.head._2 < 0.06)
  }

  test("the default full-map name carries the cpu count and marks a subset") {
    assert(Bench.defaultFullPath("32", filtered = false) == "BENCH_full_c32.json")
    assert(Bench.defaultFullPath("8", filtered = true) ==
      "BENCH_full_c8_subset.json")
  }
}
