package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.serving.{ExecutorBackend, KvBackend}

/** Wall clock in epoch microseconds with nanoTime resolution, so spans of
  * this process, of the load generator and Spark's epoch-ms event times
  * share one axis. */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  def nowUs(): Long = baseUs + (System.nanoTime() - baseNs) / 1000L
}

final case class Span(id: Long, parent: Long, name: String,
                      startUs: Long, endUs: Long)

/** Spans kept in memory and written out when the run ends. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0L)

  def newId(): Long = ids.incrementAndGet()
  def add(s: Span): Unit = spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name, in ms: each span's duration minus the part
    * of its interval that its children cover. */
  def selfTimesMs(extra: Seq[Span] = Nil): Map[String, Double] = {
    val ss = all ++ extra
    val kids = ss.groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, group) =>
      name -> group.map { s =>
        val covered = Tracer.unionUs(kids.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
          .filter { case (a, b) => b > a })
        (s.endUs - s.startUs - covered) / 1000.0
      }.sum
    }
  }

  /** One JSON document: spans as [id, parent, name, startUs, endUs] rows,
    * self time per span name, and whatever the workload adds. */
  def write(path: String, extra: Seq[Span], fields: Seq[(String, String)]): Unit = {
    val rows = (all ++ extra).sortBy(_.startUs).iterator.map(s =>
      s"""[${s.id},${s.parent},"${s.name}",${s.startUs},${s.endUs}]""")
    val self = selfTimesMs(extra).toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val w = new java.io.PrintWriter(path, "UTF-8")
    try {
      w.print("{")
      fields.foreach { case (k, v) => w.print("\"" + k + "\":" + v + ",\n") }
      w.print("\"self_ms\":" + self + ",\n\"spans\":[\n")
      w.print(rows.mkString(",\n"))
      w.print("]}\n")
    } finally w.close()
  }
}

object Tracer {
  /** Length of the union of [a, b) intervals. */
  def unionUs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) total += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}

/** Spark-layer counters of one measured scope (a query run or a phase). */
final class SparkCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0.0
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L
  var gcMs = 0.0
  var maxSkew = 0.0
  val jobIntervalsUs = ArrayBuffer.empty[(Long, Long)]
  def jobWallMs: Double = Tracer.unionUs(jobIntervalsUs.toSeq) / 1000.0
}

/** The benchmark's own SparkListener. Jobs, stages and tasks are charged
  * to the scope that is open when they start; a scope opens and closes on
  * a drained listener bus, so events cannot cross scope boundaries. Job
  * spans are parented to the span that opened the scope. */
final class SparkProbe(tracer: Tracer, cores: Int) extends SparkListener {
  @volatile private var scope: SparkCounters = null
  @volatile private var parentSpan = 0L
  private val jobs = new ConcurrentHashMap[Int, (Long, SparkCounters, Long)]()
  private val stageScope = new ConcurrentHashMap[Int, SparkCounters]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Double]]()

  def open(parent: Long): SparkCounters = {
    val c = new SparkCounters
    parentSpan = parent
    scope = c
    c
  }
  def close(): Unit = { scope = null; parentSpan = 0L }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val c = scope
    if (c != null) {
      c.jobs += 1
      jobs.put(e.jobId, (e.time * 1000L, c, parentSpan))
      e.stageIds.foreach(stageScope.put(_, c))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.remove(e.jobId)).foreach { case (startUs, c, parent) =>
      val endUs = math.max(startUs, e.time * 1000L)
      c.jobIntervalsUs += ((startUs, endUs))
      tracer.add(Span(tracer.newId(), parent, "spark.job", startUs, endUs))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageScope.get(e.stageId)).foreach { c =>
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
        stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Double]) +=
          m.executorRunTime.toDouble
      }
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    Option(stageScope.remove(id)).foreach { c =>
      c.stages += 1
      Option(stageTaskMs.remove(id)).foreach { ms =>
        if (ms.length >= cores) {
          val med = math.max(Stats.median(ms.toSeq), 1.0)
          c.maxSkew = math.max(c.maxSkew, ms.max / med)
        }
      }
    }
  }
}

/** Streaming progress, read through the public listener. */
final class StreamProbe extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit =
    progress.add(e.progress)
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  def batches: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}

/** Counters of the timing KV decorator. Executor-side clients live in this
  * JVM under local mode, so one process-wide record sees every call. */
object KvStats {
  @volatile var enabled = false
  val getCalls = new LongAdder
  val putCalls = new LongAdder
  val putNs = new LongAdder
  val getNs = new ConcurrentLinkedQueue[java.lang.Long]()
  def reset(): Unit = {
    getCalls.reset(); putCalls.reset(); putNs.reset(); getNs.clear()
  }
}

/** Times every call into the wrapped backend while [[KvStats.enabled]].
  * It keeps the executor-side load path: its client factory wraps the
  * inner backend's, so partition-streamed puts are timed too. */
final class TimedKv(inner: KvBackend) extends KvBackend with ExecutorBackend {
  override def createTable(feature: String): Unit = inner.createTable(feature)

  private def timedPut(body: => Unit): Unit =
    if (!KvStats.enabled) body
    else {
      val t0 = System.nanoTime()
      try body finally {
        KvStats.putNs.add(System.nanoTime() - t0)
        KvStats.putCalls.increment()
      }
    }

  override def putBatch(feature: String, rows: Iterator[(Any, Any)]): Unit =
    timedPut(inner.putBatch(feature, rows))
  override def putBatchVersioned(feature: String, version: Long,
                                 rows: Iterator[(Any, Any)]): Unit =
    timedPut(inner.putBatchVersioned(feature, version, rows))
  override def get(feature: String, entity: Any): Option[Any] =
    if (!KvStats.enabled) inner.get(feature, entity)
    else {
      val t0 = System.nanoTime()
      try inner.get(feature, entity) finally {
        KvStats.getNs.add(System.nanoTime() - t0)
        KvStats.getCalls.increment()
      }
    }
  override def scan(feature: String): Iterator[(Any, Any)] = inner.scan(feature)
  override def delete(feature: String, entity: Any): Unit =
    inner.delete(feature, entity)
  override def clientFactory: () => KvBackend = {
    val f = inner.asInstanceOf[ExecutorBackend].clientFactory
    () => new TimedKv(f())
  }
}
