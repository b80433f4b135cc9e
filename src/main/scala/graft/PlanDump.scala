package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import scala.jdk.CollectionConverters._

/** Dev tool: dump `.explain("formatted")` for a list of queries into
  * `<outDir>/<query>_<suffix>.txt` — the round's before/after plan
  * evidence (plans/rNN/). Bench-session config (local[cpus], cpus shuffle
  * partitions, extension installed) so the plans match what the bench
  * actually runs.
  *
  * Executions the query's BUILD triggers (a `localCheckpoint`, or the
  * `head`/`isEmpty`/`count` of a convergence or gate probe) hide their
  * plans behind a `Scan ExistingRDD` in the final plan, so each one is
  * written too, in build order, as `<query>_<suffix>.build<N>.txt`
  * (N from 1), with the action's name on the first line.
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
    def write(file: String, text: String): Unit = {
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/$file"), text)
      println(s"[plandump] wrote $outDir/$file")
    }
    for (name <- names) {
      val builds =
        new java.util.concurrent.ConcurrentLinkedQueue[(String, QueryExecution)]()
      val listener = new QueryExecutionListener {
        def onSuccess(action: String, qe: QueryExecution,
                      durationNs: Long): Unit = builds.add(action -> qe)
        def onFailure(action: String, qe: QueryExecution,
                      exception: Exception): Unit = builds.add(action -> qe)
      }
      spark.listenerManager.register(listener)
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        org.apache.spark.sql.graft.ColumnBridge.drainListenerBus(spark)
        for (((action, qe), i) <- builds.asScala.zipWithIndex)
          write(s"${name}_$suffix.build${i + 1}.txt",
            s"action: $action\n" + qe.explainString(FormattedMode))
        write(s"${name}_$suffix.txt",
          df.queryExecution.explainString(FormattedMode))
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name: $e")
          failed += name
      } finally spark.listenerManager.unregister(listener)
      spark.catalog.clearCache()
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
