package graft

import java.net.{HttpURLConnection, URI}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Serving-facade load bench: N concurrent HTTP clients against a live
  * [[graft.serving.ServingServer]] over the partition-streamed DiskKv
  * backend — point lookups (/features), ANN (/nearest), and the B3 bulk
  * stream (/batch). Reports throughput and p50/p99 latencies per
  * endpoint; the online-serving SLO evidence beside the offline bench.
  *
  * Latency numbers come FROM the server's own `/metrics` histograms
  * (prometheus scrape — the numbers an operator would alert on), with the
  * client-observed quantiles reported beside them as a cross-check;
  * throughput is client wall-clock (only the client knows when the last
  * response landed). Writes BENCH_serving_c<cpus>.json in the working
  * directory. */
object ServingBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val nClients = sys.env.getOrElse("SPARK_GRAFT_SERVE_CLIENTS", "16").toInt
    val nReq = sys.env.getOrElse("SPARK_GRAFT_SERVE_REQS", "2000").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val kvDir = graft.TempDirs.create("graft_srvbench").toString
    val store = new serving.OnlineStore(new serving.DiskKv(kvDir))
    // per-user latest purchase value (M1 materialization) → online table
    val ev = sources.Readers.eventsNormalized(spark, sfDir)
    store.load("latest_value",
      ops.Materialize.latestTriple(ev.select(col("user_id").as("entity"),
        col("value"), col("ts"))).select(col("entity"), col("value")))
    val nEntities = ev.agg(countDistinct(col("user_id"))).head().getLong(0)
    // embeddings → indexed ANN table
    store.loadVectors("emb",
      spark.read.parquet(s"$sfDir/embeddings.parquet")
        .select(col("vec_id").as("entity"), col("embedding").as("vector")))
    store.buildIndex("emb")
    val probe = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("embedding")).head().getSeq[Float](0).toArray

    val srv = new serving.ServingServer(store, threads = nClients).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    def get(url: String): Int = {
      val conn = URI.create(url).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      conn.setConnectTimeout(5000); conn.setReadTimeout(60000)
      val code = conn.getResponseCode
      val is = conn.getInputStream
      val buf = new Array[Byte](8192)
      while (is.read(buf) >= 0) {}
      conn.disconnect()
      code
    }

    val qStr = probe.mkString(",")
    def loadTest(name: String, mkUrl: Int => String,
                 reqs: Int): (Double, Double, Double, Long) = {
      val lat = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val bad = new java.util.concurrent.atomic.AtomicLong(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(nClients)
      val t0 = System.nanoTime()
      for (i <- 0 until reqs) pool.submit(new Runnable {
        def run(): Unit = {
          val s = System.nanoTime()
          try { if (get(mkUrl(i)) != 200) bad.incrementAndGet() }
          catch { case _: Throwable => bad.incrementAndGet() }
          lat.add(System.nanoTime() - s)
        }
      })
      pool.shutdown()
      pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
      val wall = (System.nanoTime() - t0) / 1e9
      val xs = lat.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
      def pct(p: Double) =
        if (xs.isEmpty) 0.0
        else xs(math.min(xs.length - 1, (p * xs.length).toInt)) / 1e6
      System.err.println(f"[serve] $name%-10s ${reqs / wall}%8.0f req/s " +
        f"p50 ${pct(0.50)}%6.2f ms  p99 ${pct(0.99)}%6.2f ms  bad ${bad.get()}")
      (reqs / wall, pct(0.50), pct(0.99), bad.get())
    }

    val (feat, near, batch) =
      try {
        // untimed warm-up (JIT + bucket-cache fill)
        (0 until 200).foreach(i =>
          get(s"$base/features?names=latest_value&entity=${i % nEntities}"))
        get(s"$base/nearest?feature=emb&k=10&q=$qStr")
        val r = (loadTest("features",
          i => s"$base/features?names=latest_value&entity=${i % nEntities}",
          nReq),
          loadTest("nearest",
            i => s"$base/nearest?feature=emb&k=10&q=$qStr",
            math.max(nReq / 4, 100)),
          loadTest("batch", _ => s"$base/batch?names=latest_value", 8))
        // server-side truth: the /metrics scrape (what an operator alerts
        // on); also sanity-pins the exposition format end-to-end
        val scrape = {
          val conn = URI.create(s"$base/metrics").toURL.openConnection()
            .asInstanceOf[HttpURLConnection]
          val text = new String(conn.getInputStream.readAllBytes, "UTF-8")
          conn.disconnect()
          require(text.contains("graft_request_latency_ms_bucket"),
            "metrics scrape missing histograms")
          text
        }
        // a missing counter line is a scrape/label REGRESSION, not zero
        // errors — fail the bench loudly rather than mask it
        def scraped(path: String, metric: String): Long =
          scrape.linesIterator
            .find(_.startsWith(s"""$metric{path="$path"}"""))
            .map(_.split(' ').last.toDouble.toLong)
            .getOrElse(sys.error(s"metrics scrape missing $metric for $path"))
        System.err.println(s"[serve] /metrics scrape: " +
          s"""features count=${scraped("/features", "graft_requests_total")} """ +
          s"""errors=${scraped("/features", "graft_request_errors_total")}""")
        ((r._1, srv.metrics.quantileMs("/features", 0.5),
          srv.metrics.quantileMs("/features", 0.99),
          scraped("/features", "graft_request_errors_total"),
          scraped("/features", "graft_requests_total")),
          (r._2, srv.metrics.quantileMs("/nearest", 0.5),
            srv.metrics.quantileMs("/nearest", 0.99),
            scraped("/nearest", "graft_request_errors_total"),
            scraped("/nearest", "graft_requests_total")),
          (r._3, srv.metrics.quantileMs("/batch", 0.5),
            srv.metrics.quantileMs("/batch", 0.99),
            scraped("/batch", "graft_request_errors_total"),
            scraped("/batch", "graft_requests_total")))
      } finally srv.stop()
    def block(name: String,
              x: ((Double, Double, Double, Long), Double, Double, Long, Long)): String = {
      val (client, p50Srv, p99Srv, errSrv, nSrv) = x
      f""""$name":{"rps":${client._1}%.2f,"p50_ms":$p50Srv%.2f,""" +
        f""""p99_ms":$p99Srv%.2f,"errors":$errSrv,"served":$nSrv,""" +
        f""""client_p50_ms":${client._2}%.2f,"client_p99_ms":${client._3}%.2f,""" +
        f""""client_errors":${client._4}}"""
    }
    // ---------------------------------------- the gRPC wire, under load
    // Same store, same FeatureServe workload, over GrpcServe's real
    // gRPC/HTTP2 endpoint (one shared channel, the production client
    // shape) — evidence the reference wire protocol serves at comparable
    // throughput to the HTTP facade, not just that it parses.
    val (grpcRps, grpcP50, grpcP99, grpcBad, grpcSrvP50, grpcSrvP99) = {
      val gs = new serving.GrpcServe(store).start()
      val ch = org.sparkproject.connect.grpc.netty.NettyChannelBuilder
        .forAddress("127.0.0.1", gs.boundPort).usePlaintext().build()
      try {
        val desc = serving.Grpc.method(serving.GrpcServe.ServiceName,
          "FeatureServe", org.sparkproject.connect.grpc.MethodDescriptor.MethodType.UNARY)
        def call(entity: Long): Boolean = {
          val w = new serving.ProtoWire.W
          w.msg(1)(_.str(1, "latest_value"))
          w.msg(2)(e => { e.str(1, "user"); e.str(3, entity.toString) })
          val resp = org.sparkproject.connect.grpc.stub.ClientCalls
            .blockingUnaryCall(ch, desc,
              org.sparkproject.connect.grpc.CallOptions.DEFAULT, w.result())
          resp.nonEmpty
        }
        (0 until 200).foreach(i => call(i % nEntities)) // warm-up
        val lat = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val bad = new java.util.concurrent.atomic.AtomicLong(0)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nClients)
        val t0 = System.nanoTime()
        for (i <- 0 until nReq) pool.submit(new Runnable {
          def run(): Unit = {
            val s = System.nanoTime()
            try { if (!call(i % nEntities)) bad.incrementAndGet() }
            catch { case _: Throwable => bad.incrementAndGet() }
            lat.add(System.nanoTime() - s)
          }
        })
        pool.shutdown()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        val wall = (System.nanoTime() - t0) / 1e9
        val xs = lat.toArray(Array.empty[java.lang.Long]).map(_.toLong).sorted
        def pct(p: Double) =
          if (xs.isEmpty) 0.0
          else xs(math.min(xs.length - 1, (p * xs.length).toInt)) / 1e6
        System.err.println(f"[serve] grpc_feature ${nReq / wall}%8.0f req/s " +
          f"p50 ${pct(0.50)}%6.2f ms  p99 ${pct(0.99)}%6.2f ms  bad ${bad.get()}" +
          f" (server p50 ${gs.metrics.quantileMs("FeatureServe", 0.5)}%.2f ms)")
        (nReq / wall, pct(0.50), pct(0.99), bad.get(),
          gs.metrics.quantileMs("FeatureServe", 0.5),
          gs.metrics.quantileMs("FeatureServe", 0.99))
      } finally { ch.shutdownNow(); gs.stop() }
    }

    // ------------------------------- Arrow Flight DoGet, full-table reads
    // The bulk serving edge over the Flight transport (role of /arrow's
    // HTTP chunked stream): repeated full DoGet reads of the latest-value
    // materialization; rows/sec is the number that matters for a training
    // loop pulling over Flight.
    val (flightRowsPerSec, flightRows, flightReads) = {
      // the full event table, not the 150-row materialization — bulk reads
      // amortize the per-read fixed cost, so rows/s reflects streaming
      // throughput rather than call overhead
      val served = ev.select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"), col("value"))
      val fs = new serving.FlightServe().start()
      fs.register("bench/latest", served)
      val ch = org.sparkproject.connect.grpc.netty.NettyChannelBuilder
        .forAddress("127.0.0.1", fs.boundPort).usePlaintext().build()
      try {
        import scala.jdk.CollectionConverters._
        val desc = serving.Grpc.method(serving.FlightServe.ServiceName,
          "DoGet", org.sparkproject.connect.grpc.MethodDescriptor.MethodType.SERVER_STREAMING)
        val ticket = {
          val w = new serving.ProtoWire.W; w.str(1, "bench/latest"); w.result()
        }
        def readAll(): Long = {
          val frames = org.sparkproject.connect.grpc.stub.ClientCalls
            .blockingServerStreamingCall(ch, desc,
              org.sparkproject.connect.grpc.CallOptions.DEFAULT, ticket)
            .asScala.toSeq
          val alloc = new org.apache.arrow.memory.RootAllocator(Long.MaxValue)
          val reader = new org.apache.arrow.vector.ipc.ArrowStreamReader(
            new java.io.ByteArrayInputStream(
              serving.FlightServe.reassembleIpc(frames)), alloc)
          var n = 0L
          try {
            val root = reader.getVectorSchemaRoot
            while (reader.loadNextBatch()) n += root.getRowCount
          } finally { reader.close(); alloc.close() }
          n
        }
        readAll() // warm-up (plan + JIT)
        val reads = 5
        val t0 = System.nanoTime()
        var total = 0L
        (0 until reads).foreach(_ => total += readAll())
        val wall = (System.nanoTime() - t0) / 1e9
        val perRead = total / reads
        System.err.println(f"[serve] flight_doget ${total / wall}%10.0f rows/s " +
          f"($perRead rows/read x $reads reads in $wall%.2f s)")
        (total / wall, perRead, reads)
      } finally { ch.shutdownNow(); fs.stop() }
    }

    // --------------------------- Metadata registration plane, under load
    // CreateSourceVariant + GetEquivalent round-trips per second over the
    // real wire — the client.apply() hot path.
    val (metaOpsPerSec, metaBad) = {
      val cat = new catalog.Catalog(spark)
      val ms = new serving.MetadataServe(cat).start()
      val ch = org.sparkproject.connect.grpc.netty.NettyChannelBuilder
        .forAddress("127.0.0.1", ms.boundPort).usePlaintext().build()
      try {
        def metadataUnary(rpc: String) = serving.Grpc.method(
          serving.MetadataServe.ServiceName, rpc,
          org.sparkproject.connect.grpc.MethodDescriptor.MethodType.UNARY)
        val createDesc = metadataUnary("CreateSourceVariant")
        val equivDesc = metadataUnary("GetEquivalent")
        def registerAndRead(i: Int): Boolean = {
          val w = new serving.ProtoWire.W
          w.msg(1) { sv =>
            sv.str(1, "bench_src"); sv.str(2, s"v$i")
            sv.msg(15)(_.msg(3)(_.str(1, s"$sfDir/orders.parquet")))
          }
          org.sparkproject.connect.grpc.stub.ClientCalls.blockingUnaryCall(
            ch, createDesc, org.sparkproject.connect.grpc.CallOptions.DEFAULT,
            w.result())
          val eq = new serving.ProtoWire.W
          eq.msg(2)(_.msg(4) { sv =>
            sv.str(1, "bench_src"); sv.str(2, "probe")
            sv.msg(15)(_.msg(3)(_.str(1, s"$sfDir/orders.parquet")))
          })
          org.sparkproject.connect.grpc.stub.ClientCalls.blockingUnaryCall(
            ch, equivDesc, org.sparkproject.connect.grpc.CallOptions.DEFAULT,
            eq.result()).nonEmpty
        }
        registerAndRead(-1) // warm-up
        val ops = 500
        val bad = new java.util.concurrent.atomic.AtomicLong(0)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(nClients)
        val t0 = System.nanoTime()
        for (i <- 0 until ops) pool.submit(new Runnable {
          def run(): Unit =
            try { if (!registerAndRead(i)) bad.incrementAndGet() }
            catch { case _: Throwable => bad.incrementAndGet() }
        })
        pool.shutdown()
        pool.awaitTermination(10, java.util.concurrent.TimeUnit.MINUTES)
        val wall = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[serve] metadata_register ${ops / wall}%8.0f " +
          f"create+equiv/s  bad ${bad.get()}")
        (ops / wall, bad.get())
      } finally { ch.shutdownNow(); ms.stop() }
    }

    val json =
      s"""{"metric":"serving_load","clients":$nClients,""" +
        s""""entities":$nEntities,"latency_source":"/metrics histogram",""" +
        block("features", feat) + "," +
        block("nearest", near) + "," +
        block("batch_full_scans", batch) + "," +
        // p50/p99 from the server's own histograms (same truth source as
        // the HTTP blocks), client-observed beside them as the cross-check
        f""""grpc_feature_serve":{"rps":$grpcRps%.2f,"p50_ms":$grpcSrvP50%.2f,""" +
        f""""p99_ms":$grpcSrvP99%.2f,"client_p50_ms":$grpcP50%.2f,""" +
        f""""client_p99_ms":$grpcP99%.2f,"client_errors":$grpcBad},""" +
        f""""flight_doget":{"rows_per_sec":$flightRowsPerSec%.0f,""" +
        s""""rows_per_read":$flightRows,"reads":$flightReads},""" +
        f""""metadata_register":{"ops_per_sec":$metaOpsPerSec%.2f,""" +
        s""""client_errors":$metaBad},""" +
        s""""sf_dir":"$sfDir"}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"BENCH_serving_c$cpus.json"), json + "\n")
    spark.stop()
    // scraped() now fails loudly on a missing counter line, so the
    // server-side counts are trustworthy — no sentinel masking needed
    val errs = feat._1._4 + near._1._4 + batch._1._4 + // client-observed
      feat._4 + near._4 + batch._4 + // server-side /metrics counters
      grpcBad // gRPC wire
    if (errs > 0) {
      System.err.println("[serve] ASSERTION FAILED: request errors under load")
      sys.exit(1)
    }
  }
}
