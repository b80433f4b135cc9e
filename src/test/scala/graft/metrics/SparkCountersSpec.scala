package graft.metrics

import graft.SparkSpec

/** `SparkCounters.measure` charges the jobs its body starts, with their
  * stages and tasks, and nothing that ran before it. */
class SparkCountersSpec extends SparkSpec {
  private def shuffled() =
    spark.range(0, 10000, 1, 4).repartition(4).queryExecution.toRdd.count()

  test("a repartition and an action: jobs, tasks and shuffle write") {
    val (n, c) = SparkCounters.measure(spark)(shuffled())
    assert(n == 10000)
    assert(c.jobs >= 1)
    assert(c.stages >= 2)
    assert(c.tasks >= 4)
    assert(c.shuffleWriteBytes > 0)
    assert(c.shuffleReadBytes > 0)
    assert(c.taskMs >= 0 && c.jobWallMs >= 0)
    assert(c.toJson.startsWith(s"""{"jobs":${c.jobs},"stages":${c.stages},"""))
  }

  test("a job that runs outside the scope is not counted") {
    shuffled()
    val (_, idle) = SparkCounters.measure(spark)(())
    assert(idle.jobs == 0 && idle.stages == 0 && idle.tasks == 0)
    assert(idle.shuffleWriteBytes == 0)
    // a job after the scope closes must not reach its counters
    val (_, before) = SparkCounters.measure(spark)(spark.range(10).count())
    shuffled()
    val (_, again) = SparkCounters.measure(spark)(spark.range(10).count())
    assert(before.jobs >= 1 && before.jobs == again.jobs)
  }

  test("two runs of the same plan give identical jobs, stages and tasks") {
    val runs = Seq.fill(2)(SparkCounters.measure(spark)(shuffled())._2)
    assert(runs.map(c => (c.jobs, c.stages, c.tasks)).distinct.size == 1)
  }
}
