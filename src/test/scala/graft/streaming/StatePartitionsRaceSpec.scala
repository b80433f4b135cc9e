package graft.streaming

import java.util.concurrent.{Callable, CyclicBarrier, Executors}
import graft.{SparkEntry, SparkSpec}

/** Stream fixtures lower the session-global `spark.sql.shuffle.partitions`
  * to the state-partition count while their query starts, and Verify runs
  * queries on several threads: two fixtures started together must still
  * leave the conf at the value they found. */
class StatePartitionsRaceSpec extends SparkSpec {
  private val key = "spark.sql.shuffle.partitions"

  test("two stream fixtures run concurrently restore the shuffle partitions") {
    val before = spark.conf.get(key)
    val fixtures = Seq("stream_dedup", "stream_dedup_ttl")
    val pool = Executors.newFixedThreadPool(fixtures.size)
    try for (attempt <- 1 to 5) {
      val gate = new CyclicBarrier(fixtures.size)
      fixtures.map { q =>
        pool.submit(new Callable[Long] {
          def call(): Long = {
            gate.await()
            SparkEntry.queries(q)(spark, sf001).queryExecution.toRdd.count()
          }
        })
      }.foreach(f => assert(f.get() > 0))
      assert(spark.conf.get(key) == before, s"attempt $attempt")
    } finally {
      pool.shutdown()
      spark.conf.set(key, before)
    }
  }
}
