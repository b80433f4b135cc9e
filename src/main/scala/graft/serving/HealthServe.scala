package graft.serving

import org.sparkproject.connect.grpc.{ServerServiceDefinition, Status}

import ProtoWire.{R, W}

/** `grpc.health.v1.Health` — the standard gRPC health-checking protocol
  * (the reference exposes health probes via its health/ package; real
  * load balancers and Kubernetes probe exactly this service). One
  * implementation registered on every gRPC endpoint this engine serves
  * (feature serving, metadata/registration/tasks, Arrow Flight).
  *
  * Wire shapes (health.proto, public): HealthCheckRequest{service=1
  * string}; HealthCheckResponse{status=1 enum}, SERVING = 1. Per the
  * protocol, an empty service name asks about the server as a whole;
  * asking about a service the endpoint does not host answers NOT_FOUND.
  * `Watch` emits the current status and then HOLDS THE STREAM OPEN, per
  * protocol: watch-based clients (grpc-go health watchers waiting for
  * SERVING transitions) treat stream completion as an error and re-dial
  * in a loop. Statuses here are static for the life of the server, so no
  * further messages are ever sent — the stream ends when the client
  * cancels or the server shuts down. */
object HealthServe {
  val ServiceName = "grpc.health.v1.Health"

  /** Default cap on held-open Watch streams per endpoint. */
  val WatchMax = 64

  private val Serving: Array[Byte] = { val w = new W; w.enum(1, 1); w.result() }
  // ServingStatus.SERVICE_UNKNOWN — Watch-only per health.proto: "if the
  // requested service is unknown when the call is received, the server
  // will send a message setting the serving status to SERVICE_UNKNOWN but
  // should NOT terminate the call" (Check answers NOT_FOUND instead)
  private val ServiceUnknown: Array[Byte] = { val w = new W; w.enum(1, 3); w.result() }

  private def readService(req: Array[Byte]): String = {
    val r = new R(req)
    var svc = ""
    r.fields {
      case (1, _) => svc = r.readString()
    }
    svc
  }

  /** The Health service definition for an endpoint hosting `served`
    * (full gRPC service names). Held-open Watch streams are capped at
    * `watchMax` per endpoint (symmetric with WatchForCancel's
    * watchSlots): each open stream pins no thread but does pin
    * per-stream transport state, so a misbehaving client re-dialing
    * Watch in a loop would otherwise accumulate server state without
    * bound. Beyond the cap, Watch degrades to Check semantics — current
    * status, then onCompleted (a standard watcher re-dials; the loop
    * costs it, not the server). Permits release on client
    * cancel/disconnect. */
  def service(served: Set[String],
              watchMax: Int = WatchMax): ServerServiceDefinition = {
    val watchSlots = new java.util.concurrent.Semaphore(watchMax)
    def unknown(svc: String): Boolean =
      svc.nonEmpty && !served.contains(svc) && svc != ServiceName
    def check(req: Array[Byte]): Array[Byte] = {
      val svc = readService(req)
      if (unknown(svc))
        throw Status.NOT_FOUND
          .withDescription(s"unknown service $svc").asRuntimeException()
      Serving
    }
    new Grpc.Service(ServiceName, metrics = None)
      .unary("Check")(check)
      .serverStream("Watch") { (req, obs, _) =>
        // one report, then leave the stream open (no onCompleted):
        // statuses are static, so there is never a second message, but
        // completing would make standard health watchers re-dial. Unknown
        // services get a SERVICE_UNKNOWN message (stream stays open
        // awaiting registration), never a stream error — Watch semantics
        // differ from Check here by protocol. Malformed bytes fail the
        // call through the adapter's status mapping.
        val msg = if (unknown(readService(req))) ServiceUnknown else Serving
        if (watchSlots.tryAcquire()) {
          // release the slot when the client cancels/disconnects — the
          // only way a held-open stream ever ends. The AtomicBoolean
          // guards EVERY release path (cancel handler, hook-install
          // failure, onNext failure): a permit that leaked would
          // permanently shrink the cap, and a double release would grow
          // it past watchMax.
          val released = new java.util.concurrent.atomic.AtomicBoolean(false)
          def release(): Unit =
            if (released.compareAndSet(false, true)) watchSlots.release()
          val hooked =
            try {
              obs.asInstanceOf[
                org.sparkproject.connect.grpc.stub.ServerCallStreamObserver[Array[Byte]]]
                .setOnCancelHandler(() => release())
              true
            } catch { case _: Throwable => release(); false }
          try obs.onNext(msg)
          catch { case e: Throwable => release(); throw e }
          if (!hooked) obs.onCompleted() // no cancel hook → no hold
        } else {
          obs.onNext(msg)
          obs.onCompleted() // over cap: degrade to Check semantics
        }
      }
      .build()
  }
}
