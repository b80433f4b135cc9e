package graft.metrics

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ColumnBridge

/** Spark-layer counters of one measured scope: the jobs that started
  * inside it, with their stages and tasks. The one Spark listener in
  * src/main — every reader of Spark counters (Bench, SkewBench, BpeBench,
  * the specs) gets them from [[SparkCounters.measure]]. Field names and
  * attribution follow the benchmark harness's `SparkProbe`.
  *
  * `maxSkew` is the largest max/median task-time ratio over the scope's
  * stages that ran at least one task per core (a median over fewer tasks
  * says nothing about balance). `jobWallMs` is the length of the union of
  * the job intervals, so concurrent jobs are not counted twice. */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0.0
  var gcMs = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var maxSkew = 0.0
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]

  def jobWallMs: Double = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    jobIntervalsMs.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total.toDouble
  }

  /** One JSON object, keys as in the benchmark harness's per-query map. */
  def toJson: String =
    s"""{"jobs":$jobs,"stages":$stages,"tasks":$tasks,"task_ms":$taskMs,""" +
      s""""gc_ms":$gcMs,"job_wall_ms":$jobWallMs,""" +
      s""""shuffle_read_bytes":$shuffleReadBytes,""" +
      s""""shuffle_write_bytes":$shuffleWriteBytes,""" +
      s""""spill_bytes":$spillBytes,"input_bytes":$inputBytes,""" +
      s""""input_rows":$inputRows,"max_skew":$maxSkew}"""
}

object SparkCounters {
  /** Runs `body` and returns its result with the counters of the jobs it
    * started. The listener bus is drained before the listener attaches
    * and again before it detaches, so no event of an earlier job reaches
    * the scope and none of the body's own is lost to the async bus. A
    * job another thread starts while `body` runs is charged too. */
  def measure[T](spark: SparkSession)(body: => T): (T, SparkCounters) = {
    val c = new SparkCounters
    val probe = new Probe(c, spark.sparkContext.defaultParallelism)
    ColumnBridge.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(probe)
    try {
      val out = body
      ColumnBridge.drainListenerBus(spark)
      (out, c)
    } finally spark.sparkContext.removeSparkListener(probe)
  }

  /** Charges a job to `c` at its start, and a stage and its tasks when
    * the stage belongs to such a job. Events arrive on the bus thread. */
  private final class Probe(c: SparkCounters, cores: Int) extends SparkListener {
    private val jobStartMs = mutable.Map.empty[Int, Long]
    private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c.jobs += 1
      jobStartMs(e.jobId) = e.time
      e.stageIds.foreach(stageTaskMs.getOrElseUpdate(_, mutable.ArrayBuffer.empty))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobStartMs.remove(e.jobId).foreach { t0 =>
        c.jobIntervalsMs += ((t0, math.max(t0, e.time)))
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      stageTaskMs.get(e.stageId).foreach { ms =>
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRows += m.inputMetrics.recordsRead
          ms += m.executorRunTime
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stageTaskMs.remove(e.stageInfo.stageId).foreach { ms =>
        c.stages += 1
        if (ms.length >= cores) {
          val s = ms.sorted
          val n = s.length
          val median = if (n % 2 == 1) s(n / 2).toDouble
            else (s(n / 2 - 1) + s(n / 2)) / 2.0
          c.maxSkew = math.max(c.maxSkew, s.last / math.max(median, 1.0))
        }
      }
  }
}
