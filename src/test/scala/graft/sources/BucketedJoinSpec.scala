package graft.sources

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Bucketed co-located join: same key, same bucket count ⇒ the sort-merge
  * join runs with ZERO shuffle exchanges — the scale primitive for repeated
  * big-big joins. */
class BucketedJoinSpec extends SparkSpec {

  test("join of co-bucketed tables has no shuffle exchange and equal results") {
    val tmp = graft.TempDirs.create("graft_buckets").toString
    val orders = spark.read.parquet(s"$sf001/orders.parquet")
    val customer = spark.read.parquet(s"$sf001/customer.parquet")
    Writers.writeBucketed(orders, "b_orders_spec", s"$tmp/o", "o_custkey", 8,
      sortCols = Seq("o_custkey"))
    Writers.writeBucketed(
      customer.withColumnRenamed("c_custkey", "o_custkey"),
      "b_customer_spec", s"$tmp/c", "o_custkey", 8, sortCols = Seq("o_custkey"))

    // hint("merge") forces SMJ without touching session confs; bucket layout
    // must then satisfy the join's distribution requirement with no Exchange
    val joined = spark.table("b_orders_spec").hint("merge")
      .join(spark.table("b_customer_spec"), Seq("o_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count("*").as("n"), sum(col("o_totalprice")).as("rev"))
    // the AQE wrapper hides children from collect(), so assert on the
    // rendered tree: both scans bucketed, and nothing BELOW the join line
    // (tree prints top-down) is an Exchange
    val planStr = joined.queryExecution.executedPlan.toString
    assert(planStr.contains("SortMergeJoin"), s"expected SMJ in:\n$planStr")
    assert("Bucketed: true".r.findAllIn(planStr).size == 2, planStr)
    val belowJoin = planStr.substring(planStr.indexOf("SortMergeJoin"))
    assert(!belowJoin.contains("Exchange"),
      s"bucketed join must not shuffle:\n$belowJoin")

    val plain = orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count("*").as("n"), sum(col("o_totalprice")).as("rev"))
    val a = joined.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val b = plain.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(a == b && a.nonEmpty)
  }
}
