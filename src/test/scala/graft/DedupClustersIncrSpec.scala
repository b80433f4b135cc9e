package graft

import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import graft.functions.Dedup
import graft.metrics.SparkCounters

/** What dedup_clusters_incr hands back after its build: both closures ran
  * while it was built, so running the returned frame must not replay them
  * or the MinHash pipeline under them. */
class DedupClustersIncrSpec extends SparkSpec {
  private lazy val onDriver = SparkEntry.dedupClustersIncr(spark, sf001,
    Dedup.DriverEdges)

  test("the returned frame runs at most one job") {
    val built = onDriver
    val (rows, c) = SparkCounters.measure(spark)(built.collect())
    assert(rows.nonEmpty)
    assert(c.jobs <= 1, s"${c.jobs} jobs")
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
