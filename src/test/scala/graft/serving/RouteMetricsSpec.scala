package graft.serving

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.catalog.Catalog
import graft.serving.ProtoWire.W
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, MethodDescriptor, StatusRuntimeException}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}

/** Per-route `metrics` counters for every kind of gRPC route, over real
  * channels: a unary call counts once per call, a server stream once
  * when it completes, a bidi Get* once per request message, and a client
  * stream once per stream (on half-close, or on its first failure). A
  * failing call counts as a request AND an error. */
class RouteMetricsSpec extends SparkSpec {
  import MethodDescriptor.MethodType._

  private def m(service: String, rpc: String, mt: MethodDescriptor.MethodType) =
    Grpc.method(service, rpc, mt)

  private def channel(port: Int): ManagedChannel =
    NettyChannelBuilder.forAddress("127.0.0.1", port).usePlaintext().build()

  private def unary(ch: ManagedChannel, service: String, rpc: String,
                    req: Array[Byte]): Array[Byte] =
    ClientCalls.blockingUnaryCall(ch, m(service, rpc, UNARY),
      CallOptions.DEFAULT, req)

  private def stream(ch: ManagedChannel, service: String, rpc: String,
                     req: Array[Byte]): Seq[Array[Byte]] =
    ClientCalls.blockingServerStreamingCall(ch,
      m(service, rpc, SERVER_STREAMING), CallOptions.DEFAULT, req).asScala.toSeq

  private def code(body: => Any): String =
    intercept[StatusRuntimeException](body).getStatus.getCode.toString

  private def counts(metrics: Metrics, route: String): (Long, Long) =
    metrics.stats(route).map(s => (s.requests.sum(), s.errors.sum()))
      .getOrElse((0L, 0L))

  /** Stream routes observe when production finishes, which may land just
    * after the client has read the last message: wait for the expected
    * counts, then check they stay put (counted once, not per message). */
  private def settles(metrics: Metrics, route: String,
                      expected: (Long, Long)): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (counts(metrics, route) != expected &&
           System.currentTimeMillis() < deadline) Thread.sleep(10)
    Thread.sleep(100)
    assert(counts(metrics, route) == expected, route)
  }

  private def str(field: Int, s: String): Array[Byte] = {
    val w = new W; w.str(field, s); w.result()
  }
  private def nameReq(name: String): Array[Byte] = {
    val w = new W; w.msg(1)(_.str(1, name)); w.result()
  }

  test("feature serving: unary FeatureServe and GetResourceLocation, " +
       "server-stream SourceData") {
    import spark.implicits._
    val store = new OnlineStore(new InProcessKv)
    store.load("age", Seq((1L, 31L)).toDF("entity", "value"))
    val srv = new GrpcServe(store).start()
    srv.registerSource("clicks", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val ch = channel(srv.boundPort)
    try {
      val ok = new W
      ok.msg(1)(_.str(1, "age"))
      ok.msg(2) { e => e.str(1, "user"); e.str(3, "1") }
      unary(ch, GrpcServe.ServiceName, "FeatureServe", ok.result())
      assert(counts(srv.metrics, "FeatureServe") == ((1L, 0L)))
      val noEntity = new W
      noEntity.msg(1)(_.str(1, "age"))
      assert(code(unary(ch, GrpcServe.ServiceName, "FeatureServe",
        noEntity.result())) == "INTERNAL")
      assert(counts(srv.metrics, "FeatureServe") == ((2L, 1L)))
      assert(code(unary(ch, GrpcServe.ServiceName, "GetResourceLocation",
        str(1, "nope"))) == "NOT_FOUND")
      assert(counts(srv.metrics, "GetResourceLocation") == ((1L, 1L)))

      val src = new W
      src.msg(1)(_.str(1, "clicks"))
      assert(stream(ch, GrpcServe.ServiceName, "SourceData", src.result()).size == 1)
      settles(srv.metrics, "SourceData", (1L, 0L))
      val missing = new W
      missing.msg(1)(_.str(1, "nope"))
      assert(code(stream(ch, GrpcServe.ServiceName, "SourceData",
        missing.result())) == "NOT_FOUND")
      settles(srv.metrics, "SourceData", (2L, 1L))
    } finally { ch.shutdownNow(); srv.stop() }
  }

  test("flight: unary GetFlightInfo, server-stream DoGet") {
    import spark.implicits._
    val srv = new FlightServe(batchRows = 1).start()
    srv.register("events", Seq((1L, 1.5), (2L, 2.5)).toDF("id", "value"))
    val ch = channel(srv.boundPort)
    def descriptor(path: String): Array[Byte] = {
      val w = new W; w.enum(1, 1); w.str(3, path); w.result()
    }
    def ticket(key: String): Array[Byte] = {
      val w = new W; w.bytes(1, key.getBytes("UTF-8")); w.result()
    }
    try {
      unary(ch, FlightServe.ServiceName, "GetFlightInfo", descriptor("events"))
      assert(counts(srv.metrics, "GetFlightInfo") == ((1L, 0L)))
      assert(code(unary(ch, FlightServe.ServiceName, "GetFlightInfo",
        descriptor("nope"))) == "NOT_FOUND")
      assert(counts(srv.metrics, "GetFlightInfo") == ((2L, 1L)))

      // schema message + one batch per row
      assert(stream(ch, FlightServe.ServiceName, "DoGet", ticket("events")).size == 3)
      settles(srv.metrics, "DoGet", (1L, 0L))
      assert(code(stream(ch, FlightServe.ServiceName, "DoGet",
        ticket("nope"))) == "NOT_FOUND")
      settles(srv.metrics, "DoGet", (2L, 1L))
    } finally { ch.shutdownNow(); srv.stop() }
  }

  test("metadata and tasks: unary create/get, server-stream list and " +
       "GetAllRuns, bidi GetUsers per message, WriteFeatures per stream") {
    val stateDir = graft.TempDirs.create("graft_route_metrics").toString
    val runner = new graft.sched.TaskRunner(spark, stateDir, backoffMs = 1)
    val store = new OnlineStore(new InProcessKv)
    val srv = new MetadataServe(new Catalog(spark), store = Some(store),
      tasks = Some(runner)).start()
    val ch = channel(srv.boundPort)
    val md = MetadataServe.ServiceName
    val tasks = MetadataServe.TasksServiceName
    try {
      // unary: Metadata create, then a get of a resource never staged
      unary(ch, md, "CreateUser", { val w = new W; w.msg(1)(_.str(1, "ann")); w.result() })
      unary(ch, md, "CreateUser", { val w = new W; w.msg(1)(_.str(1, "bob")); w.result() })
      assert(counts(srv.metrics, "CreateUser") == ((2L, 0L)))
      val staged = new W
      staged.msg(1) { id => id.msg(1)(_.str(1, "ann")); id.enum(2, 11) }
      assert(code(unary(ch, md, "GetStagedForDeletionResource",
        staged.result())) == "NOT_FOUND")
      assert(counts(srv.metrics, "GetStagedForDeletionResource") == ((1L, 1L)))

      // unary: Tasks
      unary(ch, tasks, "CreateTaskRun", { val w = new W; w.msg(1)(_.str(1, "t")); w.result() })
      unary(ch, tasks, "GetTaskByID", str(1, "t"))
      assert(counts(srv.metrics, "GetTaskByID") == ((1L, 0L)))
      assert(code(unary(ch, tasks, "GetTaskByID", str(1, "nope"))) == "NOT_FOUND")
      assert(counts(srv.metrics, "GetTaskByID") == ((2L, 1L)))

      // server streams, one observation each when they complete
      assert(stream(ch, md, "ListUsers", Array.emptyByteArray).size == 2)
      settles(srv.metrics, "ListUsers", (1L, 0L))
      assert(stream(ch, tasks, "GetAllRuns", Array.emptyByteArray).size == 1)
      settles(srv.metrics, "GetAllRuns", (1L, 0L))

      // bidi GetUsers: one observation per request; the miss errors the
      // stream once and nothing after it is served
      val got = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      val done = new java.util.concurrent.CountDownLatch(1)
      @volatile var err: Throwable = null
      val reqs = ClientCalls.asyncBidiStreamingCall(
        ch.newCall(m(md, "GetUsers", BIDI_STREAMING), CallOptions.DEFAULT),
        new StreamObserver[Array[Byte]] {
          override def onNext(v: Array[Byte]): Unit = got.synchronized { got += v }
          override def onError(t: Throwable): Unit = { err = t; done.countDown() }
          override def onCompleted(): Unit = done.countDown()
        })
      Seq("ann", "bob", "nobody").foreach(n => reqs.onNext(nameReq(n)))
      reqs.onCompleted()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS))
      assert(err.asInstanceOf[StatusRuntimeException].getStatus.getCode.toString
        == "NOT_FOUND")
      assert(got.size == 2)
      assert(counts(srv.metrics, "GetUsers") == ((3L, 1L)))

      // client stream: one observation per stream, on half-close or on
      // the first failing message
      def write(msgs: Seq[Array[Byte]]): Option[Throwable] = {
        val finished = new java.util.concurrent.CountDownLatch(1)
        @volatile var failure: Throwable = null
        val obs = ClientCalls.asyncClientStreamingCall(
          ch.newCall(m(MetadataServe.ApiServiceName, "WriteFeatures",
            CLIENT_STREAMING), CallOptions.DEFAULT),
          new StreamObserver[Array[Byte]] {
            override def onNext(v: Array[Byte]): Unit = ()
            override def onError(t: Throwable): Unit = { failure = t; finished.countDown() }
            override def onCompleted(): Unit = finished.countDown()
          })
        msgs.foreach(obs.onNext)
        obs.onCompleted()
        assert(finished.await(30, java.util.concurrent.TimeUnit.SECONDS))
        Option(failure)
      }
      def sfv(name: String, entity: String, value: String): Array[Byte] = {
        val w = new W
        w.str(1, name); w.str(3, entity); w.str(4, value)
        w.msg(5)(_.int64(1, 100L))
        w.result()
      }
      assert(write(Seq(sfv("clicks", "1", "2"), sfv("clicks", "2", "3"),
        sfv("clicks", "3", "4"))).isEmpty)
      assert(counts(srv.metrics, "WriteFeatures") == ((1L, 0L)))
      assert(write(Seq(sfv("clicks", "1", "5"), sfv("", "2", "6"),
        sfv("clicks", "3", "7"))).isDefined)
      assert(counts(srv.metrics, "WriteFeatures") == ((2L, 1L)))
    } finally { ch.shutdownNow(); srv.stop() }
  }
}
