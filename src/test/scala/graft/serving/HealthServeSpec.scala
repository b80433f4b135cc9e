package graft.serving

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.catalog.Catalog
import graft.serving.ProtoWire.{R, W}
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, StatusRuntimeException}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.ClientCalls

/** `grpc.health.v1.Health` on every gRPC endpoint the engine serves —
  * what a real load balancer or Kubernetes readiness probe dials. */
class HealthServeSpec extends SparkSpec {
  import org.sparkproject.connect.grpc.MethodDescriptor.MethodType._

  private def channel(port: Int): ManagedChannel =
    NettyChannelBuilder.forAddress("127.0.0.1", port).usePlaintext().build()

  private def check(ch: ManagedChannel, service: String): Long = {
    val req = {
      val w = new W
      if (service.nonEmpty) w.str(1, service)
      w.result()
    }
    val resp = ClientCalls.blockingUnaryCall(ch,
      MetadataServe.method(HealthServe.ServiceName, "Check", UNARY),
      CallOptions.DEFAULT, req)
    val r = new R(resp)
    var st = -1L
    var more = true
    while (more) r.readTag() match {
      case (0, _) => more = false
      case (1, _) => st = r.readVarint()
      case (_, wt) => r.skip(wt)
    }
    st
  }

  test("Check answers SERVING on the feature, metadata, and flight " +
       "endpoints; unknown services are NOT_FOUND; Watch streams a report " +
       "and holds the stream open") {
    val stateDir = graft.TempDirs.create("graft_health").toString
    val runner = new graft.sched.TaskRunner(spark, stateDir, backoffMs = 1)
    val gsrv = new GrpcServe(new OnlineStore(new InProcessKv)).start()
    val msrv = new MetadataServe(new Catalog(spark), tasks = Some(runner)).start()
    val fsrv = new FlightServe().start()
    val gch = channel(gsrv.boundPort)
    val mch = channel(msrv.boundPort)
    val fch = channel(fsrv.boundPort)
    try {
      // whole-server probes (empty service name) — SERVING = 1 everywhere
      assert(check(gch, "") == 1L)
      assert(check(mch, "") == 1L)
      assert(check(fch, "") == 1L)
      // per-service probes name exactly what each endpoint hosts
      assert(check(gch, GrpcServe.ServiceName) == 1L)
      assert(check(mch, MetadataServe.ServiceName) == 1L)
      assert(check(mch, MetadataServe.ApiServiceName) == 1L)
      assert(check(mch, MetadataServe.TasksServiceName) == 1L)
      assert(check(fch, FlightServe.ServiceName) == 1L)
      // a service this endpoint does not host → NOT_FOUND (health.proto)
      val nf = intercept[StatusRuntimeException] {
        check(gch, MetadataServe.ServiceName)
      }
      assert(nf.getStatus.getCode.toString == "NOT_FOUND")
      // Watch: streams the current status, then HOLDS the stream open —
      // grpc.health.v1 watch clients treat completion as an error and
      // re-dial in a loop, so the server must not complete after the
      // first report (statuses are static; no second message ever comes)
      val it = ClientCalls.blockingServerStreamingCall(gch,
        MetadataServe.method(HealthServe.ServiceName, "Watch", SERVER_STREAMING),
        CallOptions.DEFAULT, new W().result())
      val r = new R(it.next())
      assert(r.readTag()._1 == 1 && r.readVarint() == 1L)
      val done = new java.util.concurrent.CountDownLatch(1)
      val probe = new Thread(() => {
        try it.hasNext catch { case _: Throwable => () }
        done.countDown()
      })
      probe.setDaemon(true); probe.start()
      assert(!done.await(300, java.util.concurrent.TimeUnit.MILLISECONDS),
        "Watch stream completed after the first report")
      // Watch on an UNKNOWN service: per health.proto this is a
      // SERVICE_UNKNOWN(3) MESSAGE with the stream held open — stream
      // errors are Check semantics, and erroring would re-dial watchers
      val unknownReq = { val w = new W; w.str(1, "no.such.Service"); w.result() }
      val it2 = ClientCalls.blockingServerStreamingCall(gch,
        MetadataServe.method(HealthServe.ServiceName, "Watch", SERVER_STREAMING),
        CallOptions.DEFAULT, unknownReq)
      val r2 = new R(it2.next())
      assert(r2.readTag()._1 == 1 && r2.readVarint() == 3L,
        "unknown service must report SERVICE_UNKNOWN, not a stream error")
    } finally {
      gch.shutdownNow(); mch.shutdownNow(); fch.shutdownNow()
      gsrv.stop(); msrv.stop(); fsrv.stop()
    }
  }

  test("Watch beyond the held-open stream cap degrades to Check " +
       "semantics: report + complete, and a freed slot is reusable") {
    import org.sparkproject.connect.grpc.netty.NettyServerBuilder
    // a bare endpoint with a cap of ONE held-open watch stream
    val srv = NettyServerBuilder
      .forAddress(new java.net.InetSocketAddress("127.0.0.1", 0))
      .addService(HealthServe.service(Set.empty, watchMax = 1))
      .build().start()
    val ch = channel(srv.getPort)
    try {
      def watch() = ClientCalls.blockingServerStreamingCall(ch,
        MetadataServe.method(HealthServe.ServiceName, "Watch",
          SERVER_STREAMING),
        CallOptions.DEFAULT, new W().result())
      def firstStatus(it: java.util.Iterator[Array[Byte]]): Long = {
        val r = new R(it.next())
        assert(r.readTag()._1 == 1); r.readVarint()
      }
      def completes(it: java.util.Iterator[Array[Byte]],
                    withinMs: Long): Boolean = {
        val done = new java.util.concurrent.CountDownLatch(1)
        val probe = new Thread(() => {
          try it.hasNext catch { case _: Throwable => () }
          done.countDown()
        })
        probe.setDaemon(true); probe.start()
        done.await(withinMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      }
      // watcher 1 takes the only slot and is held open per protocol
      val held = watch()
      assert(firstStatus(held) == 1L)
      assert(!completes(held, 300), "in-cap watcher must be held open")
      // watcher 2 overflows: current status, then onCompleted
      val over = watch()
      assert(firstStatus(over) == 1L,
        "over-cap watch still reports the current status")
      assert(completes(over, 5000),
        "over-cap watch must complete (degrade to Check), not hold state")
    } finally { ch.shutdownNow(); srv.shutdownNow() }
  }

  test("a metadata server without a task ledger does not claim the Tasks " +
       "service healthy") {
    val msrv = new MetadataServe(new Catalog(spark)).start()
    val mch = channel(msrv.boundPort)
    try {
      assert(check(mch, MetadataServe.ServiceName) == 1L)
      val nf = intercept[StatusRuntimeException] {
        check(mch, MetadataServe.TasksServiceName)
      }
      assert(nf.getStatus.getCode.toString == "NOT_FOUND")
    } finally { mch.shutdownNow(); msrv.stop() }
  }
}
