package graft.serving

import org.sparkproject.connect.grpc.{MethodDescriptor, ServerServiceDefinition}
import org.sparkproject.connect.grpc.MethodDescriptor.MethodType
import org.sparkproject.connect.grpc.netty.NettyServerBuilder
import org.sparkproject.connect.grpc.stub.{ServerCalls, StreamObserver}

import graft.catalog.ResourceId

/** The one gRPC runtime every wire endpoint ([[GrpcServe]],
  * [[FlightServe]], [[MetadataServe]] and [[HealthServe]]) is built on:
  * what protoc's generated stubs contain, minus the generated message
  * classes. Methods are hand-built [[MethodDescriptor]]s over an identity
  * byte marshaller; payloads are encoded and decoded with [[ProtoWire]].
  * Runs on the gRPC core/netty runtime shaded into spark-connect
  * (`org.sparkproject.connect.grpc`). */
object Grpc {
  type Bytes = Array[Byte]

  private val BytesMarshaller = new MethodDescriptor.Marshaller[Bytes] {
    override def stream(value: Bytes): java.io.InputStream =
      new java.io.ByteArrayInputStream(value)
    override def parse(stream: java.io.InputStream): Bytes =
      stream.readAllBytes()
  }

  /** `service/name` as a byte-marshalled method descriptor. Shared by the
    * servers and by in-JVM clients (query fixtures, benches, specs). */
  def method(service: String, name: String, mt: MethodType): MethodDescriptor[Bytes, Bytes] =
    MethodDescriptor.newBuilder(BytesMarshaller, BytesMarshaller)
      .setType(mt)
      .setFullMethodName(MethodDescriptor.generateFullMethodName(service, name))
      .build()

  /** NameVariant{name=1, variant=2} — metadata.proto's NameVariant and
    * serving.proto's FeatureID / SourceID / TrainingDataID are
    * wire-identical. */
  def readNameVariant(r: ProtoWire.R): ResourceId = {
    var name = ""; var variant = ""
    r.fields {
      case (1, _) => name = r.readString()
      case (2, _) => variant = r.readString()
    }
    ResourceId(name, variant)
  }

  /** Builder for one service. With `metrics`, every timed route records
    * one `metrics.observe(route, elapsed, error)` under its method name:
    * a unary call per call, a server stream when production finishes, a
    * bidi route per request message, a client stream once per stream. */
  final class Service(name: String, metrics: Option[Metrics]) {
    private val builder = ServerServiceDefinition.builder(name)

    private def observe(route: String, t0: Long, error: Boolean): Unit =
      metrics.foreach(_.observe(route, System.nanoTime() - t0, error))

    private def add(rpc: String, mt: MethodType,
                    handler: org.sparkproject.connect.grpc.ServerCallHandler[Bytes, Bytes]): this.type = {
      builder.addMethod(method(name, rpc, mt), handler)
      this
    }

    def unary(rpc: String)(h: Bytes => Bytes): this.type =
      add(rpc, MethodType.UNARY, ServerCalls.asyncUnaryCall(
        new ServerCalls.UnaryMethod[Bytes, Bytes] {
          override def invoke(req: Bytes, obs: StreamObserver[Bytes]): Unit = {
            val t0 = System.nanoTime()
            try {
              val out = h(req)
              observe(rpc, t0, error = false)
              obs.onNext(out); obs.onCompleted()
            } catch {
              case e: Throwable =>
                observe(rpc, t0, error = true)
                obs.onError(Backpressure.toStatus(e))
            }
          }
        }))

    /** Server stream whose handler produces on `obs` and calls `onDone`
      * once production ends (it may outlive the call, under
      * [[Backpressure.drive]]); the route is timed to that point. A
      * handler that throws (request parse, lookup) fails the call. */
    def serverStream(rpc: String)(
        h: (Bytes, StreamObserver[Bytes], Option[Throwable] => Unit) => Unit): this.type =
      add(rpc, MethodType.SERVER_STREAMING, ServerCalls.asyncServerStreamingCall(
        new ServerCalls.ServerStreamingMethod[Bytes, Bytes] {
          override def invoke(req: Bytes, obs: StreamObserver[Bytes]): Unit = {
            val t0 = System.nanoTime()
            try h(req, obs, err => observe(rpc, t0, error = err.isDefined))
            catch {
              case e: Throwable =>
                observe(rpc, t0, error = true)
                obs.onError(Backpressure.toStatus(e))
            }
          }
        }))

    /** Server stream of `msgs(req)`, driven under flow control. */
    def stream(rpc: String)(msgs: Bytes => Iterator[Bytes]): this.type =
      serverStream(rpc)((req, obs, onDone) => Backpressure.drive(obs, msgs(req), onDone))

    /** Bidi stream answering each request with `h(req)` and completing
      * with the request stream; the first failure errors the call. */
    def bidiEach(rpc: String)(h: Bytes => Bytes): this.type =
      bidi(rpc)(obs => new StreamObserver[Bytes] {
        // once onError closes the call, the client's half-close still
        // delivers onCompleted — a second close throws
        private var closed = false
        override def onNext(req: Bytes): Unit = {
          val t0 = System.nanoTime()
          try {
            val out = h(req)
            observe(rpc, t0, error = false)
            obs.onNext(out)
          } catch {
            case e: Throwable =>
              observe(rpc, t0, error = true)
              closed = true
              obs.onError(Backpressure.toStatus(e))
          }
        }
        override def onError(t: Throwable): Unit = ()
        override def onCompleted(): Unit =
          if (!closed) { closed = true; obs.onCompleted() }
      })

    /** Untimed bidi stream: `h` returns the request observer. */
    def bidi(rpc: String)(h: StreamObserver[Bytes] => StreamObserver[Bytes]): this.type =
      add(rpc, MethodType.BIDI_STREAMING, ServerCalls.asyncBidiStreamingCall(
        new ServerCalls.BidiStreamingMethod[Bytes, Bytes] {
          override def invoke(obs: StreamObserver[Bytes]): StreamObserver[Bytes] = h(obs)
        }))

    /** Client stream feeding each request to `h`, answered with `done`
      * on half-close. The first failure errors the call and the rest of
      * the stream is dropped; the route is timed from the call's start
      * to its half-close or first failure. */
    def clientStream(rpc: String, done: Bytes)(h: Bytes => Unit): this.type =
      add(rpc, MethodType.CLIENT_STREAMING, ServerCalls.asyncClientStreamingCall(
        new ServerCalls.ClientStreamingMethod[Bytes, Bytes] {
          override def invoke(obs: StreamObserver[Bytes]): StreamObserver[Bytes] =
            new StreamObserver[Bytes] {
              private val t0 = System.nanoTime()
              private var closed = false // error already sent; swallow the rest
              override def onNext(req: Bytes): Unit = if (!closed) try h(req) catch {
                case e: Throwable =>
                  closed = true
                  observe(rpc, t0, error = true)
                  obs.onError(Backpressure.toStatus(e))
              }
              override def onError(t: Throwable): Unit = ()
              override def onCompleted(): Unit = if (!closed) {
                closed = true
                observe(rpc, t0, error = false)
                obs.onNext(done); obs.onCompleted()
              }
            }
        }))

    def build(): ServerServiceDefinition = builder.build()
  }

  /** A gRPC/HTTP2 server on 127.0.0.1:`port` (0 picks a free port) that
    * hosts `services` plus the standard `grpc.health.v1.Health` probes
    * for them. Subclasses are the wire endpoints. */
  abstract class Endpoint(port: Int) {
    protected def services: Seq[ServerServiceDefinition]

    private lazy val server = {
      val hosted = services
      val b = NettyServerBuilder
        .forAddress(new java.net.InetSocketAddress("127.0.0.1", port))
      hosted.foreach(b.addService)
      b.addService(HealthServe.service(
        hosted.map(_.getServiceDescriptor.getName).toSet))
      b.build()
    }

    def start(): this.type = { server.start(); this }
    def boundPort: Int = server.getPort
    def stop(): Unit = server.shutdownNow()
  }
}
