package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: dump `.explain("formatted")` for a list of queries into
  * `<outDir>/<query>_<suffix>.txt` — the round's before/after plan
  * evidence (plans/rNN/). Bench-session config (local[cpus], cpus shuffle
  * partitions, extension installed) so the plans match what the bench
  * actually runs.
  *
  * Usage: runMain graft.PlanDump <sfDir> <q1,q2,...> <outDir> <suffix>
  *
  * A query that throws is reported on stderr and the dump goes on with the
  * rest; the exit status is then 1.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty)
    val outDir = args(2)
    val suffix = args(3)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-plandump")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
        println(s"[plandump] wrote $outDir/${name}_$suffix.txt")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name: $e")
          failed += name
      }
      spark.catalog.clearCache()
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
