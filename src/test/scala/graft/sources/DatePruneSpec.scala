package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Evidence that a date predicate on a DailyPartition table is a
  * PARTITION filter — pruned at planning time, whole directories never
  * scanned — not a row filter over the full table. */
class DatePruneSpec extends SparkSpec {
  import spark.implicits._

  test("date-range predicate reaches the scan as PartitionFilters") {
    val base = graft.TempDirs.create("graft_dprune").toString
    val rows = (0 until 10).flatMap { d =>
      (0 until 20).map(i => (i.toLong, i * 1.5,
        java.sql.Timestamp.valueOf(f"2024-02-${d + 1}%02d 08:00:00")))
    }
    val v = Writers.writeVersioned(
      rows.toDF("user_id", "value", "ts"), base,
      Some(graft.catalog.DailyPartition("ts")))
    val pruned = spark.read.parquet(v)
      .where($"__date" >= "2024-02-03" && $"__date" <= "2024-02-04")
    // the predicate must surface as a partition filter on the scan node
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("__date"),
      plan.take(800))
    // and the data answer is the 2-day slice
    assert(pruned.count() == 40)
    assert(pruned.select("__date").distinct().as[String].collect().sorted
      .toSeq == Seq("2024-02-03", "2024-02-04"))
    // directory layout really is one dir per day (the pruning substrate)
    val dirs = new java.io.File(v).listFiles()
      .filter(_.getName.startsWith("__date=")).map(_.getName).sorted
    assert(dirs.length == 10)
  }
}
