package perfbench

import java.io.{BufferedReader, InputStreamReader, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryProgress
import graft.ops.Materialize
import graft.serving.{DiskKv, ExecutorBackend, KvBackend, OnlineStore, ServingServer}
import graft.streaming.{StreamRun, StreamingLatest, StreamingOnline}

/** The `stream_serve` workload.
  *
  * Set-up generates seeded events, bulk-loads each entity's latest
  * (value, ts) into a DiskKv through `OnlineStore`, stages the stream
  * files, warms the streaming pipeline on a side table, serves the store
  * with `ServingServer` and starts the load generator process, which warms
  * up with its own lookups.
  *
  * Timed part: phase `read`, a fixed number of lookups against the quiet
  * store; phase `ingest`, the staged files drained one per micro-batch by
  * readTripleStream -> latestValueStream -> onlineSink into the same store
  * while the load generator keeps reading. Afterwards every entity must
  * serve its final reference value.
  *
  * `op_geomean_ms` is the geometric mean of the ingest micro-batches'
  * wall (`triggerExecution`): one op per staged file, each a few hundred
  * ms of state update and store writes. */
object StreamServe {
  val Feature = "latest"
  val Connections = 2

  /** Per-layer metrics of the layers only this workload runs; `offline`
    * reports them as 0. */
  val LayerMetrics: Seq[String] = Seq(
    "streaming.batches", "streaming.input_rows", "streaming.output_rows",
    "streaming.batch_ms_p50", "streaming.batch_ms_max", "streaming.add_batch_ms",
    "streaming.planning_ms", "streaming.offsets_ms", "streaming.commit_ms",
    "streaming.state_rows", "streaming.state_mb",
    "serving.kv.get_calls", "serving.kv.get_us_p50", "serving.kv.get_us_p99",
    "serving.kv.put_calls", "serving.kv.put_ms", "serving.kv.segments",
    "serving.kv.disk_mb", "serving.http.route_ms_mean", "serving.http.wire_ms_mean",
    "lookup_rps", "lookup_p50_ms", "lookup_p99_ms", "ingest_rows_per_s",
    "ingest_lookup_p50_ms", "ingest_lookup_p99_ms")

  private def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)

  private def gcMsNow(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** One parquet file of (entity, value, ts) triples per event array, named
    * in order and given increasing modification times, which is the order
    * the file source drains them in. */
  private def stageFiles(spark: SparkSession, files: Array[Array[(Long, Long)]],
                         dir: String): Unit = {
    import spark.implicits._
    val tmp = s"$dir.tmp"
    val parts = files.toSeq.zipWithIndex.map { case (f, i) => (i, f.map(_._1), f.map(_._2)) }
    spark.sparkContext.parallelize(parts, parts.length)
      .flatMap { case (i, es, ts) =>
        es.indices.iterator.map(j =>
          (es(j), StreamGen.valueOf(ts(j)), new Timestamp(ts(j)), i))
      }
      .toDF("entity", "value", "ts", "f")
      .write.partitionBy("f").parquet(tmp)
    Files.createDirectories(Paths.get(dir))
    val now = System.currentTimeMillis() - files.length * 1000L
    files.indices.foreach { i =>
      val part = Files.list(Paths.get(tmp, s"f=$i")).iterator().asScala
        .find(p => p.getFileName.toString.endsWith(".parquet")).get
      val dest = Paths.get(dir, f"events-$i%03d.parquet")
      Files.move(part, dest)
      Files.setLastModifiedTime(dest, FileTime.fromMillis(now + i * 1000L))
    }
    deleteTree(Paths.get(tmp))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse
      .foreach(Files.delete)

  private def drain(spark: SparkSession, dir: String, feature: String,
                    factory: () => KvBackend, ckpt: String): Unit = {
    val triples = StreamingLatest.readTripleStream(spark, dir, maxFilesPerTrigger = 1)
    val updates = StreamingLatest.latestValueStream(spark, triples).toDF()
    StreamRun.await(StreamingOnline.onlineSink(updates, feature, factory, ckpt,
      availableNow = true))
  }

  /** Scrape `/metrics` for the `/features` route's latency (sum ms, count). */
  private def scrape(port: Int): (Double, Double) = {
    val c = new LoadGen.Conn(port)
    val body = try c.get("/metrics")._2 finally c.close()
    def v(metric: String) = body.linesIterator
      .find(_.startsWith(metric + """{path="/features"}"""))
      .map(_.split(' ').last.toDouble).getOrElse(0.0)
    (v("graft_request_latency_ms_sum"), v("graft_request_latency_ms_count"))
  }

  private final case class Phase(wallS: Double, n: Long, bad: Long, p50Ms: Double,
                                 p99Ms: Double, meanMs: Double)
  private def phase(line: String): Phase = {
    val f = line.split(' ')
    Phase(f(1).toLong / 1e9, f(2).toLong, f(3).toLong, f(4).toDouble / 1000,
      f(5).toDouble / 1000, f(6).toDouble / 1000)
  }

  def run(spark: SparkSession, cfg: Config): Result = {
    val spec = if (cfg.small) StreamGen.Small else StreamGen.Full
    val work = cfg.workDir
    // the read phase's size: lookups for `seconds` at a nominal rate
    val readLookups = (spec.lookupsPerSecond * cfg.seconds).toLong
    val ev = StreamGen.generate(spec, cfg.seed)
    val tracer = new Tracer
    val cores = spark.sparkContext.defaultParallelism

    Main.note(cfg, "session up")
    stageFiles(spark, ev.files, s"$work/stream")
    // four full-size micro-batches: fewer leave the first timed batches
    // slower than the rest while the streaming path is still compiling
    val warmEv = StreamGen.generate(spec.copy(files = 4), cfg.seed + 1)
    stageFiles(spark, warmEv.files, s"$work/warm")

    val disk = new DiskKv(s"$work/kv")
    val backend: KvBackend with ExecutorBackend =
      if (cfg.trace) new TimedKv(disk) else disk
    val store = new OnlineStore(backend)
    import spark.implicits._
    val base = ev.base.toSeq
      .map { case (e, t) => (e, StreamGen.valueOf(t), new Timestamp(t)) }
      .toDF("entity", "value", "ts")
    Main.note(cfg, "stream files staged")
    store.loadWithTs(Feature, Materialize.latestTriple(base))
    Main.note(cfg, "base loaded")
    drain(spark, s"$work/warm", "warm", backend.clientFactory, s"$work/ckpt-warm")

    Main.note(cfg, "streaming warmed")
    val server = new ServingServer(store, threads = Connections).start()
    val port = server.boundPort
    val spanFile = if (cfg.trace) s"$work/loadgen-spans.txt" else "-"
    val javaBin = ProcessHandle.current().info().command().orElse("java")
    val lg = new ProcessBuilder(javaBin, "-Xmx512m", "-XX:+UseSerialGC", "-XX:-UsePerfData",
        s"-Djava.io.tmpdir=${System.getProperty("java.io.tmpdir")}",
        "-cp", System.getProperty("java.class.path"), "perfbench.LoadGen",
        port.toString, cfg.seed.toString, if (cfg.small) "small" else "full",
        Connections.toString, spanFile)
      .redirectError(ProcessBuilder.Redirect.INHERIT).start()
    val fromLg = new BufferedReader(new InputStreamReader(lg.getInputStream, "US-ASCII"))
    val toLg = new PrintWriter(lg.getOutputStream, true)
    def stopLoadGen(): Unit = if (lg.isAlive) {
      toLg.println("quit")
      if (!lg.waitFor(20, java.util.concurrent.TimeUnit.SECONDS)) {
        lg.destroyForcibly(); lg.waitFor()
      }
    }
    def ask(cmd: String): String = {
      toLg.println(cmd)
      Option(fromLg.readLine()).getOrElse(sys.error(s"load generator died on '$cmd'"))
    }
    try {
      val ready = Option(fromLg.readLine()).getOrElse(sys.error("load generator died"))
      val warmBad = ready.split(' ')(1).toLong
      Main.note(cfg, "load generator warmed")
      val setupS = (System.currentTimeMillis() - cfg.originMs) / 1000.0

      // ---- phase read; a traced run also reads untraced, half before and
      // half after the traced read, so warm-up drift cancels in the overhead
      def untracedHalf() = if (cfg.trace) Some(phase(ask(s"read ${readLookups / 2} 0"))) else None
      val untracedA = untracedHalf()
      val probe = new SparkProbe(tracer, cores)
      val streams = new StreamProbe
      spark.streams.addListener(streams)
      if (cfg.trace) {
        spark.sparkContext.addSparkListener(probe)
        KvStats.reset()
        KvStats.enabled = true
      }
      val gc0 = gcMsNow()
      val phaseId = tracer.newId()
      val ingestId = tracer.newId()
      PerfbenchBus.drain(spark.sparkContext)
      val counters = probe.open(ingestId) // only the ingest phase runs jobs
      val (sum0, cnt0) = if (cfg.trace) scrape(port) else (0.0, 0.0)
      val r0 = Clock.nowUs()
      val read = phase(ask(s"read ${readLookups} ${if (cfg.trace) 1 else 0}"))
      val r1 = Clock.nowUs()
      val (sum1, cnt1) = if (cfg.trace) scrape(port) else (0.0, 0.0)
      val kvGetsRead = KvStats.getNs.asScala.map(_.toDouble / 1000).toArray.sorted
      KvStats.enabled = false
      val untracedB = untracedHalf()
      KvStats.enabled = cfg.trace
      val untraced = untracedA ++ untracedB

      Main.note(cfg, "read phase done")
      // ---- phase ingest
      toLg.println("ingest")
      val i0 = Clock.nowUs()
      drain(spark, s"$work/stream", Feature, backend.clientFactory, s"$work/ckpt")
      val i1 = Clock.nowUs()
      val ingest = phase(ask("stop"))
      Main.note(cfg, "ingest phase done")
      PerfbenchBus.drain(spark.sparkContext)
      probe.close()
      spark.streams.removeListener(streams)
      val gcMs = gcMsNow() - gc0
      val batches = streams.batches
      // one micro-batch per staged file, as the reference model assumes
      val dataBatches = batches.filter(_.numInputRows > 0)
      val batchesOk = dataBatches.size == spec.files
      Main.note(cfg, "micro-batch ms: " + dataBatches.map(p =>
        s"${dur(p, "triggerExecution")} (add ${dur(p, "addBatch")})").mkString(", "))
      if (!batchesOk) System.err.println(
        s"[perfbench] ${dataBatches.size} micro-batches read data, expected ${spec.files}")
      KvStats.enabled = false
      tracer.add(Span(phaseId, 0L, "phase.read", r0, r1))
      tracer.add(Span(ingestId, 0L, "phase.ingest", i0, i1))

      val fin = ask("final").split(' ')
      val (finN, finBad) = (fin(1).toLong, fin(2).toLong)
      stopLoadGen() // it writes its request spans on the way out
      Main.note(cfg, "final state checked")
      val heapMb = Main.liveHeapMb()
      val completeS = read.wallS + (i1 - i0) / 1e6

      val attempted = read.n + ingest.n + finN + untraced.map(_.n).sum
      val failed = read.bad + ingest.bad + finBad + untraced.map(_.bad).sum
      val metrics = scala.collection.mutable.LinkedHashMap[String, Double](
        "setup_s" -> setupS,
        "complete_s" -> completeS,
        "op_geomean_ms" -> Stats.geomean(dataBatches.map(dur(_, "triggerExecution"))),
        "heap_live_mb" -> heapMb)
      var extraSpans = Seq.empty[Span]

      if (cfg.trace) {
        // streaming.batch spans with their durationMs parts as children
        batches.foreach { p =>
          val s = java.time.Instant.parse(p.timestamp)
          val startUs = s.getEpochSecond * 1000000L + s.getNano / 1000
          val id = tracer.newId()
          tracer.add(Span(id, ingestId, "streaming.batch", startUs,
            startUs + (dur(p, "triggerExecution") * 1000).toLong))
          var at = startUs
          Seq("latestOffset", "getBatch", "queryPlanning", "addBatch",
              "walCommit", "commitOffsets").foreach { k =>
            val d = (dur(p, k) * 1000).toLong
            if (d > 0) tracer.add(Span(tracer.newId(), id, s"streaming.$k", at, at + d))
            at += d
          }
        }
        // load-generator request spans, parented to their phase
        extraSpans = scala.io.Source.fromFile(spanFile).getLines().flatMap { l =>
          l.split(' ') match {
            case Array("read", a, b) =>
              Some(Span(tracer.newId(), phaseId, "serving.request", a.toLong, b.toLong))
            case Array("ingest", a, b) =>
              Some(Span(tracer.newId(), ingestId, "serving.request", a.toLong, b.toLong))
            case _ => None
          }
        }.toSeq
        val inputRows = batches.map(_.numInputRows.toDouble).sum
        val firstStartUs = batches.headOption.map { p =>
          val s = java.time.Instant.parse(p.timestamp)
          s.getEpochSecond * 1000000L + s.getNano / 1000
        }.getOrElse(i0)
        val lastState = batches.lastOption.flatMap(_.stateOperators.headOption)
        val segFiles = Files.walk(Paths.get(s"$work/kv")).iterator().asScala
          .filter(p => p.getFileName.toString.startsWith("seg-") &&
            p.getParent.getParent.getFileName.toString.startsWith(Feature + "-"))
          .toSeq
        val batchMs = batches.map(dur(_, "triggerExecution"))
        val routeMs = if (cnt1 > cnt0) (sum1 - sum0) / (cnt1 - cnt0) else 0.0
        val mb = 1024.0 * 1024.0
        metrics ++= Seq(
          "spark.jobs" -> counters.jobs.toDouble,
          "spark.stages" -> counters.stages.toDouble,
          "spark.tasks" -> counters.tasks.toDouble,
          "spark.driver_gap_ms" -> ((i1 - i0) / 1000.0 - counters.jobWallMs),
          "spark.job_wall_ms" -> counters.jobWallMs,
          "spark.task_ms" -> counters.taskMs,
          "spark.core_util" -> (if (counters.jobWallMs > 0)
            counters.taskMs / (counters.jobWallMs * cores) else 0.0),
          "spark.shuffle_read_mb" -> counters.shuffleReadBytes / mb,
          "spark.shuffle_write_mb" -> counters.shuffleWriteBytes / mb,
          "spark.spill_mb" -> counters.spillBytes / mb,
          "spark.task_skew" -> counters.maxSkew,
          "spark.gc_ms" -> counters.gcMs,
          "sources.input_mb" -> counters.inputBytes / mb,
          "sources.input_rows" -> counters.inputRows.toDouble,
          "streaming.batches" -> batches.size.toDouble,
          "streaming.input_rows" -> inputRows,
          "streaming.output_rows" -> batches.flatMap(_.stateOperators.headOption)
            .map(_.numRowsUpdated).sum.toDouble,
          "streaming.batch_ms_p50" -> Stats.median(batchMs),
          "streaming.batch_ms_max" -> batchMs.maxOption.getOrElse(0.0),
          "streaming.add_batch_ms" -> batches.map(dur(_, "addBatch")).sum,
          "streaming.planning_ms" -> batches.map(dur(_, "queryPlanning")).sum,
          "streaming.offsets_ms" -> batches.map(p =>
            dur(p, "latestOffset") + dur(p, "getBatch")).sum,
          "streaming.commit_ms" -> batches.map(p =>
            dur(p, "walCommit") + dur(p, "commitOffsets")).sum,
          "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
          "streaming.state_mb" -> lastState.map(_.memoryUsedBytes / mb).getOrElse(0.0),
          "serving.kv.get_calls" -> KvStats.getCalls.sum.toDouble,
          "serving.kv.get_us_p50" -> Stats.pct(kvGetsRead, 0.50),
          "serving.kv.get_us_p99" -> Stats.pct(kvGetsRead, 0.99),
          "serving.kv.put_calls" -> KvStats.putCalls.sum.toDouble,
          "serving.kv.put_ms" -> KvStats.putNs.sum / 1e6,
          "serving.kv.segments" -> segFiles.size.toDouble,
          "serving.kv.disk_mb" -> segFiles.map(Files.size(_)).sum / mb,
          "serving.http.route_ms_mean" -> routeMs,
          "serving.http.wire_ms_mean" -> (read.meanMs - routeMs),
          "jvm.gc_pause_ms" -> gcMs,
          "lookup_rps" -> read.n / read.wallS,
          "lookup_p50_ms" -> read.p50Ms,
          "lookup_p99_ms" -> read.p99Ms,
          "ingest_rows_per_s" -> inputRows / math.max((i1 - firstStartUs) / 1e6, 1e-9),
          "ingest_lookup_p50_ms" -> ingest.p50Ms,
          "ingest_lookup_p99_ms" -> ingest.p99Ms,
          "trace.overhead_s" -> (read.wallS - untraced.map(_.wallS).sum))
        // the offline query layers do not run here
        metrics ++= Offline.LayerMetrics.map(_ -> 0.0)
        spark.sparkContext.removeSparkListener(probe)
      }
      val fields = Seq(
        "phases" -> (s"""{"read":{"wall_s":${read.wallS},"lookups":${read.n},""" +
          s""""p50_ms":${read.p50Ms},"p99_ms":${read.p99Ms}},""" +
          s""""ingest":{"wall_s":${(i1 - i0) / 1e6},"lookups":${ingest.n},""" +
          s""""p50_ms":${ingest.p50Ms},"p99_ms":${ingest.p99Ms}}}"""))
      Result(correct = failed == 0 && warmBad == 0 && batchesOk, attempted, failed,
        metrics.toSeq, tracer, extraSpans, fields)
    } finally {
      stopLoadGen()
      server.stop()
    }
  }
}
