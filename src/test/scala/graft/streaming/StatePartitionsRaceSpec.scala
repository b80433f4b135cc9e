package graft.streaming

import java.util.concurrent.{Callable, CyclicBarrier, Executors}
import graft.{SparkEntry, SparkSpec}

/** Stream fixtures lower the session-global `spark.sql.shuffle.partitions`
  * to the state-partition count and turn no-data micro-batches on while
  * their query starts, and Verify runs queries on several threads: two
  * fixtures started together must still leave the conf at the value they
  * found, and a session with no-data batches off keeps them off. */
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

  test("stream_asof under a session with no-data batches off: same rows, " +
       "both confs read as found") {
    val noData = "spark.sql.streaming.noDataMicroBatches.enabled"
    val shuffle = spark.conf.get(key)
    val found = spark.conf.getOption(noData)
    def rows(): Seq[String] = SparkEntry.queries("stream_asof")(spark, sf001)
      .collect().map(_.toString).toSeq.sorted
    try {
      spark.conf.set(noData, "true")
      val on = rows()
      assert(spark.conf.get(noData) == "true" && spark.conf.get(key) == shuffle)
      spark.conf.set(noData, "false")
      val off = rows()
      assert(spark.conf.get(noData) == "false", "the fixture left no-data batches on")
      assert(spark.conf.get(key) == shuffle)
      assert(on.nonEmpty)
      assert(off == on)
    } finally found.fold(spark.conf.unset(noData))(spark.conf.set(noData, _))
  }
}
