package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}

/** Start every graft stream ([[start]]), and drive a BOUNDED stream (a
  * file-backed replay under the correctness gate, or a drain-what's-there
  * incremental run) to completion under `Trigger.AvailableNow`.
  *
  * Versus the previous default-trigger + `processAllAvailable()` loop:
  * AvailableNow snapshots the source's available data at start, runs the
  * SAME `maxFilesPerTrigger`-batched micro-batches — including any
  * required no-data batch (the engine's continue condition includes
  * `lastExecutionRequiresAnotherBatch`, so watermark-armed state timeouts
  * still fire; the streaming gate queries' oracles prove it) — and then
  * SELF-TERMINATES. No status polling, no idle trigger gaps: the measured
  * wall time is the work, not the micro-batch lifecycle floor, which is
  * exactly the component co-tenant contention inflated in the round-9
  * driver bench (stream_dedup 2.11× driver vs 1.00× local on identical
  * code). It is also the restart-friendly shape: re-running the same
  * writer over the same checkpoint drains exactly the unprocessed
  * remainder. */
object StreamRun {
  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.StreamRun")

  /** Start `w`: the one place a graft stream starts. Unless the active
    * session already names a checkpoint file manager, it installs
    * [[LocalCheckpointFiles]] there first, so the query's offsets, commits,
    * source log and state-store files are written without a Hadoop shell
    * process per file. At every graft call site the active session is the
    * one `w`'s Dataset belongs to; a stream of another session keeps that
    * session's manager. Logs one INFO line per query: its name, checkpoint
    * root and the manager class in effect. */
  def start[T](w: DataStreamWriter[T]): StreamingQuery = {
    val spark = SparkSession.active
    if (spark.conf.getOption(LocalCheckpointFiles.ConfKey).isEmpty)
      spark.conf.set(LocalCheckpointFiles.ConfKey, classOf[LocalCheckpointFiles].getName)
    val q = w.start()
    val root = q match {
      case sq: StreamingQueryWrapper => sq.streamingQuery.resolvedCheckpointRoot
      case _ => "?"
    }
    log.info(s"stream ${Option(q.name).getOrElse(q.id)} started: checkpoint $root, " +
      "checkpoint files " + q.sparkSession.conf.getOption(LocalCheckpointFiles.ConfKey)
        .getOrElse("Spark default"))
    q
  }

  /** Start `w` with AvailableNow and block until self-termination. */
  def drain[T](w: DataStreamWriter[T], timeoutMs: Long = 600000L): Unit =
    await(start(w.trigger(Trigger.AvailableNow())), timeoutMs)

  /** Block until an (AvailableNow-triggered) started query terminates.
    * Propagates the query's failure if it died; fails loudly instead of
    * hanging if it neither finishes nor fails within `timeoutMs`. */
  def await(q: StreamingQuery, timeoutMs: Long = 600000L): Unit =
    try {
      if (!q.awaitTermination(timeoutMs))
        throw new IllegalStateException(
          s"stream ${q.name} did not terminate within $timeoutMs ms — " +
            "is the writer AvailableNow-triggered?")
    } finally q.stop()
}
