package graft

import org.apache.spark.sql.functions._

/** Robustness sweep: EVERY driver query must run (possibly to an empty
  * result) against empty copies of the input tables — the empty-table /
  * empty-partition edge a production lake hits routinely (new tenant,
  * freshly-truncated staging, partition-pruned-to-nothing reads).
  * Crashing on empty input is a correctness bug at any scale. */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = graft.TempDirs.create("graft_empty").toString
    val tables = Seq("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings")
    tables.foreach { t =>
      spark.read.parquet(s"$sf001/$t.parquet").limit(0)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("every query survives fully-empty inputs") {
    // The sweep is 260 independent latency-bound runs (driver planning +
    // near-empty jobs; the streaming fixtures dominate) — run them 8 wide
    // (guide §2.6 "overlap independent jobs"). Each worker gets its OWN
    // child session (spark.newSession(): same SparkContext, private
    // SQLConf/temp views), so queries that set-and-restore session conf
    // (the streaming state-partition sites) or register temp views can't
    // race each other. Same 260 queries, same assertion — ~1/5 the wall
    // (this single test was 171 s of a 1044 s suite run sequentially).
    val failures =
      new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      val futs = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        scala.concurrent.Future {
          try fn(spark.newSession(), emptyDir).queryExecution.toRdd.count(): Unit
          catch {
            case e: Throwable =>
              failures.add((name, Option(e.getMessage).getOrElse(e.toString)
                .linesIterator.take(1).mkString)): Unit
          }
        }
      }
      futs.foreach(scala.concurrent.Await.result(_,
        scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
    import scala.jdk.CollectionConverters._
    val fs = failures.asScala.toSeq.sortBy(_._1)
    assert(fs.isEmpty,
      s"\n${fs.size} queries crash on empty input:\n" +
        fs.map { case (n, m) => s"  $n: $m" }.mkString("\n"))
  }
}
