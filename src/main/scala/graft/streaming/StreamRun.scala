package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions.{col, lit, max}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

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

  // ------------------------------------------------------ bounded replay

  /** One input of a bounded replay ([[replay]], [[replayTo]]). */
  sealed trait Input

  /** `frame` written as `files` parquet files, `deliveries` times over in
    * order: each later delivery's files are newer, so they land in later
    * micro-batches (a re-delivery the query's state must absorb). */
  final case class Frame(frame: DataFrame, files: Int, deliveries: Int = 1)
    extends Input

  /** Parquet files already written under `dir`. */
  final case class Written(dir: String) extends Input

  /** The flush row appended to every [[Frame]] input after its data: key
    * (the first column) -1, `ts` the inputs' latest ts plus `offsetDays`
    * (epoch plus `offsetDays` on empty input), each other column from
    * `values`. It is written last, so it rides the last micro-batch, and
    * the watermark it lifts finalizes every real row. */
  final case class Sentinel(offsetDays: Long, values: (String, Any)*)

  /** Replay `inputs` through `query` into a memory table and return its
    * rows, less the sentinel rows (key -1) when a `sentinel` is asked for.
    * Each input is read back as a file stream, `maxFilesPerTrigger` files
    * per micro-batch, with its own schema; `query` gets the streams in
    * input order. `check` sees the drained query (its `lastProgress`). */
  def replay(spark: SparkSession, name: String, inputs: Seq[Input],
             maxFilesPerTrigger: Int, sentinel: Option[Sentinel] = None,
             outputMode: String = "append",
             check: StreamingQuery => Unit = _ => ())
            (query: Seq[DataFrame] => DataFrame): DataFrame = {
    val table = s"${name}_${System.nanoTime()}"
    check(replayTo(spark, inputs, maxFilesPerTrigger, sentinel) { streams =>
      start(query(streams).writeStream.outputMode(outputMode)
        .format("memory").queryName(table).trigger(Trigger.AvailableNow()))
    })
    val rows = spark.table(table)
    sentinel.fold(rows) { _ =>
      val key = inputs.collectFirst { case f: Frame => f.frame.columns.head }.get
      rows.where(col(key) =!= -1)
    }
  }

  /** [[replay]] into the caller's own sink: `run` starts an
    * AvailableNow-triggered query over the streams, which is then drained
    * (sentinel rows, if asked for, reach that sink). Returns the terminated
    * query. */
  def replayTo(spark: SparkSession, inputs: Seq[Input], maxFilesPerTrigger: Int,
               sentinel: Option[Sentinel] = None)
              (run: Seq[DataFrame] => StreamingQuery): StreamingQuery = {
    val streams = write(spark, inputs, sentinel).map { case (dir, schema) =>
      spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger).parquet(dir)
    }
    val q = stateScope(spark)(run(streams))
    await(q)
    q
  }

  /** Write the [[Frame]] inputs under one scratch directory: every input's
    * deliveries in order, then the sentinels. Returns each input's
    * directory and schema. */
  private def write(spark: SparkSession, inputs: Seq[Input],
                    sentinel: Option[Sentinel]): Seq[(String, StructType)] = {
    val tmp = graft.TempDirs.create("graft_replay").toString
    val frames = inputs.zipWithIndex.collect { case (f: Frame, i) => (f, s"$tmp/in$i") }
    require(sentinel.isEmpty || frames.size == inputs.size,
      "a sentinel is appended to written frames only")
    // a frame delivered more than once is computed once
    val cached = frames.collect { case (f, _) if f.deliveries > 1 =>
      f.frame.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) }
    @volatile var latestMs = 0L
    val latest = sentinel.map(_ => () => latestMs = Option(
      frames.map(_._1.frame.select(col("ts"))).reduce(_ union _)
        .agg(max(col("ts"))).head().getTimestamp(0)).fold(0L)(_.getTime))
    try for (round <- 0 until frames.map(_._1.deliveries).maxOption.getOrElse(0))
      awaitAll(frames.collect { case (f, dir) if round < f.deliveries => () =>
        val df = if (f.files == 1) f.frame.coalesce(1) else f.frame.repartition(f.files)
        df.write.mode("append").parquet(dir)
      } ++ (if (round == 0) latest else None): _*)
    finally cached.foreach(_.unpersist())
    sentinel.foreach { s =>
      val tsMs = latestMs + s.offsetDays * 86400000L
      awaitAll(frames.map { case (f, dir) => () =>
        sentinelRow(spark, f.frame.schema, tsMs, s).write.mode("append").parquet(dir)
      }: _*)
    }
    inputs.zipWithIndex.map {
      case (f: Frame, i) => (s"$tmp/in$i", f.frame.schema)
      case (Written(dir), _) => (dir, spark.read.parquet(dir).schema)
    }
  }

  private def sentinelRow(spark: SparkSession, schema: StructType, tsMs: Long,
                          s: Sentinel): DataFrame = {
    val values = s.values.toMap
    spark.range(0, 1, 1, 1).select(schema.fields.toSeq.map { f =>
      val v =
        if (f.name == schema.fields.head.name) lit(-1)
        else if (f.name == "ts") lit(new java.sql.Timestamp(tsMs))
        else lit(values(f.name))
      v.cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Run independent Spark actions concurrently and await every one before
    * rethrowing the first failure (the rest ride along suppressed), so no
    * writer is still appending when the caller unwinds. The replay's
    * inputs are near-single-task jobs: overlapping them cuts setup wall
    * time without contending for cores. */
  private def awaitAll(fs: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val done = fs.map(f => Future(f()))
      .map(fut => scala.util.Try(Await.result(fut, Duration.Inf)))
    val failures = done.collect { case scala.util.Failure(e) => e }
    failures.headOption.foreach { first =>
      failures.drop(1).foreach(first.addSuppressed)
      throw first
    }
  }

  /** Streaming state-store count for a replay: a quarter of the session's
    * parallelism, at least 8. The floor is measured at the gate's state
    * size (~150 entities): cores-sized stores (32) regressed the interval
    * joins 3.78 → 9.9 s, because per-store open/commit cost dominates tiny
    * state. The count never changes the emitted rows, only the state
    * layout. */
  private def statePartitions(spark: SparkSession): Int =
    math.max(8, spark.sparkContext.defaultParallelism / 4)

  private val stateScopeLock = new Object

  /** Run `start` with `spark.sql.shuffle.partitions` at [[statePartitions]]
    * and no-data micro-batches on, then restore both as found. A query
    * copies the session conf when it starts, so it keeps both settings:
    * its state partitioning, and the no-data batch whose watermark fires a
    * sentinel's flush. The confs are session-global and Verify runs queries
    * on several threads, so one lock spans the read, set, start and
    * restore. */
  private def stateScope[T](spark: SparkSession)(start: => T): T =
    stateScopeLock.synchronized {
      val set = Seq("spark.sql.shuffle.partitions" -> statePartitions(spark).toString,
        "spark.sql.streaming.noDataMicroBatches.enabled" -> "true")
      val found = set.map { case (k, _) => k -> spark.conf.getOption(k) }
      set.foreach { case (k, v) => spark.conf.set(k, v) }
      try start
      finally found.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
}
