package graft

import org.scalatest.funsuite.AnyFunSuite

/** A query that throws must not count as a fast query: Bench's pass loop
  * lists it as failed and keeps it out of the timed results. */
class BenchPassesSpec extends AnyFunSuite {

  test("a throwing query is failed, not timed") {
    var cleanups = 0
    var flakyRuns = 0
    val queries = Seq[(String, () => Unit)](
      "boom" -> (() => throw new RuntimeException("boom")),
      "ok" -> (() => Thread.sleep(5)),
      // succeeds in pass 1, throws in pass 2: still a failure
      "flaky" -> (() => { flakyRuns += 1
        if (flakyRuns == 2) throw new IllegalStateException("flaky") }))
    val (timed, failed) = Bench.timePasses(queries, 2, () => cleanups += 1)
    assert(failed == Seq("boom", "flaky"))
    assert(timed.map(_._1) == Seq("ok"))
    assert(timed.head._2 >= 0.005)
    assert(cleanups == 6, "cleanup runs after every query run, failed or not")
  }
}
