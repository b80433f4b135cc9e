package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.ColumnBridge
import graft.functions.Dedup

/** What dedup_clusters_incr hands back after its build: both closures ran
  * while it was built, so running the returned frame must not replay them
  * or the MinHash pipeline under them. */
class DedupClustersIncrSpec extends SparkSpec {
  private def jobsOf[T](action: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    ColumnBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = action
      ColumnBridge.drainListenerBus(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  private lazy val onDriver = SparkEntry.dedupClustersIncr(spark, sf001,
    Dedup.DriverEdges)

  test("the returned frame runs at most one job") {
    val built = onDriver
    val (rows, jobs) = jobsOf(built.collect())
    assert(rows.nonEmpty)
    assert(jobs <= 1, s"$jobs jobs")
  }

  test("past the gate the returned frame reads checkpoints, not the MinHash leg") {
    val star = SparkEntry.dedupClustersIncr(spark, sf001, driverEdges = 0)
    val leaves = star.queryExecution.optimizedPlan.collectLeaves()
    assert(leaves.forall {
      case _: LogicalRDD | _: LocalRelation => true
      case _ => false
    }, leaves.map(_.nodeName).mkString(", "))
    assert(star.collect().toSet == onDriver.collect().toSet)
  }
}
