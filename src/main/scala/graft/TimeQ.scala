package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time a comma-separated list of queries in one JVM, in the
  * given order, with the same isolation steps Bench applies (cache clear +
  * GC between queries). Repeats the list `reps` times (default 1) so warm
  * vs cold JIT effects are visible. Not part of the driver contract.
  *
  * Usage: runMain graft.TimeQ <sfDir> <q1,q2,...> [reps]
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 2) args(2).toInt else 1
    // same session shape as Bench (shuffle partitions = cpus), so a
    // re-timed anchor breach runs under the plan the bench measured
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-timeq")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try {
      for (r <- 1 to reps; name <- names) {
        val fn = SparkEntry.queries(name)
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        println(f"[timeq] rep=$r $name%-24s $dt%7.2f s")
        spark.catalog.clearCache()
        System.gc()
      }
    } finally spark.stop()
  }
}
