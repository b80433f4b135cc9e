package graft.serving

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.serving.ProtoWire.{R, W}
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, MethodDescriptor}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}

/** The gRPC serving surface over a REAL TCP/HTTP2 connection: a client
  * built from the same published protobuf wire spec (hand-encoded
  * requests, hand-decoded responses — the stand-in for a protoc-generated
  * reference client) exercises every method of
  * `featureform.serving.proto.Feature` against [[GrpcServe]]. */
class GrpcServeSpec extends SparkSpec {
  import GrpcServe.readValue
  import MethodDescriptor.MethodType._

  private def method(rpc: String, mt: MethodDescriptor.MethodType) =
    Grpc.method(GrpcServe.ServiceName, rpc, mt)

  private def withServer(body: (GrpcServe, ManagedChannel) => Unit): Unit = {
    val store = new OnlineStore(new InProcessKv)
    val srv = new GrpcServe(store).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try body(srv, ch)
    finally { ch.shutdownNow(); srv.stop() }
  }

  private def unaryCall(ch: ManagedChannel, name: String,
                        req: Array[Byte]): Array[Byte] =
    ClientCalls.blockingUnaryCall(ch, method(name, UNARY),
      CallOptions.DEFAULT, req)

  private def streamCall(ch: ManagedChannel, name: String,
                         req: Array[Byte]): Seq[Array[Byte]] =
    ClientCalls.blockingServerStreamingCall(ch,
      method(name, SERVER_STREAMING), CallOptions.DEFAULT, req)
      .asScala.toSeq

  private def idMsg(w: W, field: Int, name: String): Unit =
    w.msg(field)(_.str(1, name))

  test("FeatureServe: multi-feature, multi-entity round-trip with typed " +
    "values (the reference client's request/response shapes)") {
    val kv = new InProcessKv
    val st = new OnlineStore(kv)
    import spark.implicits._
    st.load("age", Seq((1L, 31L), (2L, 45L)).toDF("entity", "value"))
    st.load("score", Seq((1L, 0.75), (2L, 0.5)).toDF("entity", "value"))
    val srv = new GrpcServe(st).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try {
      val req = new W
      idMsg(req, 1, "age"); idMsg(req, 1, "score")
      req.msg(2) { e => e.str(1, "user"); e.str(3, "1") }
      req.msg(2) { e => e.str(1, "user"); e.str(3, "2") }
      val resp = unaryCall(ch, "FeatureServe", req.result())
      // FeatureRow.value_lists (field 2): one ValueList per entity
      val r = new R(resp)
      val lists = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
      var more = true
      while (more) r.readTag() match {
        case (0, _) => more = false
        case (2, _) =>
          val vl = r.readSlice()
          val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
          var vm = true
          while (vm) vl.readTag() match {
            case (0, _) => vm = false
            case (1, _) => vals += readValue(vl.readSlice())
            case (_, wt) => vl.skip(wt)
          }
          lists += vals.toSeq
        case (_, wt) => r.skip(wt)
      }
      assert(lists.toSeq == Seq(Seq(31L, 0.75), Seq(45L, 0.5)))
    } finally { ch.shutdownNow(); srv.stop() }
  }

  test("FeatureServe computes ON-DEMAND features over the wire (the " +
    "reference's CLIENT_COMPUTED mode served by the same RPC)") {
    val st = new OnlineStore(new InProcessKv)
    import spark.implicits._
    st.load("base", Seq((1L, 10.0)).toDF("entity", "value"))
    st.registerOnDemand("dbl",
      (_, pre) => pre.headOption.map(_.asInstanceOf[Double] * 2).getOrElse(-1.0))
    val srv = new GrpcServe(st).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try {
      val req = new W
      idMsg(req, 1, "base"); idMsg(req, 1, "dbl")
      req.msg(2)(e => { e.str(1, "user"); e.str(3, "1") })
      val r = new R(unaryCall(ch, "FeatureServe", req.result()))
      assert(r.readTag()._1 == 2)
      val vl = r.readSlice()
      val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
      var vm = true
      while (vm) vl.readTag() match {
        case (0, _) => vm = false
        case (1, _) => vals += readValue(vl.readSlice())
        case (_, wt) => vl.skip(wt)
      }
      assert(vals.toSeq == Seq(10.0, 20.0))
      // per-route server metrics advanced, and a shared Metrics instance
      // renders the gRPC route in the SAME prometheus exposition the HTTP
      // /metrics scrape serves (one scrape covers both wire surfaces)
      assert(srv.metrics.stats("FeatureServe").exists(_.requests.sum() == 1L))
      assert(srv.metrics.render()
        .contains("""graft_requests_total{path="FeatureServe"} 1"""))
    } finally { ch.shutdownNow(); srv.stop() }
  }

  test("Nearest: Vector32 query over the store's ANN surface") {
    val st = new OnlineStore(new InProcessKv)
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.0f, 1.0f)))
    st.loadVectors("emb", vecs.toDF("entity", "vector"))
    val srv = new GrpcServe(st).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try {
      val req = new W
      idMsg(req, 1, "emb")
      req.msg(2)(_.packedFloats(1, Seq(1.0f, 0.0f)))
      req.int32(3, 2)
      val resp = unaryCall(ch, "Nearest", req.result())
      val r = new R(resp)
      val ids = scala.collection.mutable.ArrayBuffer.empty[String]
      var more = true
      while (more) r.readTag() match {
        case (0, _) => more = false
        case (1, _) => ids += r.readString()
        case (_, wt) => r.skip(wt)
      }
      assert(ids.toSeq == Seq("1", "2"))
    } finally { ch.shutdownNow(); srv.stop() }
  }

  test("SourceData streams row messages honoring limit; SourceColumns " +
    "lists the schema; GetResourceLocation round-trips and 404s") {
    withServer { (srv, ch) =>
      import spark.implicits._
      val df = (1 to 600).map(i => (i.toLong, s"n$i", i * 1.5)).toDF("id", "nm", "v")
      srv.registerSource("tx", df)
      srv.registerLocation("tx", "v1", "s3://bucket/tx/v1")
      val req = new W
      req.msg(1)(_.str(1, "tx")); req.int64(2, 500L)
      val msgs = streamCall(ch, "SourceData", req.result())
      assert(msgs.size == 2, "500 rows at 256/message = 2 messages")
      val rows = msgs.flatMap { bytes =>
        val r = new R(bytes)
        val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Any]]
        var more = true
        while (more) r.readTag() match {
          case (0, _) => more = false
          case (1, _) =>
            val row = r.readSlice()
            val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
            var rm = true
            while (rm) row.readTag() match {
              case (0, _) => rm = false
              case (1, _) => vals += readValue(row.readSlice())
              case (_, wt) => row.skip(wt)
            }
            out += vals.toSeq
          case (_, wt) => r.skip(wt)
        }
        out
      }
      assert(rows.size == 500 && rows.head == Seq(1L, "n1", 1.5))
      // columns
      val colResp = unaryCall(ch, "SourceColumns", {
        val w = new W; w.msg(1)(_.str(1, "tx")); w.result()
      })
      val cr = new R(colResp)
      val cols = scala.collection.mutable.ArrayBuffer.empty[String]
      var more = true
      while (more) cr.readTag() match {
        case (0, _) => more = false
        case (1, _) => cols += cr.readString()
        case (_, wt) => cr.skip(wt)
      }
      assert(cols.toSeq == Seq("id", "nm", "v"))
      // location
      val loc = unaryCall(ch, "GetResourceLocation", {
        val w = new W; w.str(1, "tx"); w.str(2, "v1"); w.int32(3, 7); w.result()
      })
      assert(new R(loc).readTag()._1 == 1)
      val notFound = intercept[
        org.sparkproject.connect.grpc.StatusRuntimeException] {
        unaryCall(ch, "GetResourceLocation", {
          val w = new W; w.str(1, "nope"); w.str(2, "v9"); w.result()
        })
      }
      assert(notFound.getStatus.getCode ==
        org.sparkproject.connect.grpc.Status.Code.NOT_FOUND)
    }
  }

  test("TrainingData streams (features, label) rows; TrainingDataColumns " +
    "splits the schema on the label") {
    withServer { (srv, ch) =>
      import spark.implicits._
      val df = Seq((1.0, 10L, true), (2.0, 20L, false))
        .toDF("f1", "f2", "label")
      srv.registerTrainingSet("ts1", df)
      val cols = unaryCall(ch, "TrainingDataColumns", {
        val w = new W; w.msg(1)(_.str(1, "ts1")); w.result()
      })
      val cr = new R(cols)
      var feats = List.empty[String]; var label = ""
      var more = true
      while (more) cr.readTag() match {
        case (0, _) => more = false
        case (1, _) => feats :+= cr.readString()
        case (2, _) => label = cr.readString()
        case (_, wt) => cr.skip(wt)
      }
      assert(feats == List("f1", "f2") && label == "label")
      val msgs = streamCall(ch, "TrainingData", {
        val w = new W; w.msg(1)(_.str(1, "ts1")); w.result()
      })
      val rows = msgs.flatMap { bytes =>
        val r = new R(bytes)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Seq[Any], Any)]
        var rm = true
        while (rm) r.readTag() match {
          case (0, _) => rm = false
          case (1, _) =>
            val row = r.readSlice()
            val fs = scala.collection.mutable.ArrayBuffer.empty[Any]
            var lb: Any = null
            var im = true
            while (im) row.readTag() match {
              case (0, _) => im = false
              case (1, _) => fs += readValue(row.readSlice())
              case (2, _) => lb = readValue(row.readSlice())
              case (_, wt) => row.skip(wt)
            }
            out += ((fs.toSeq, lb))
          case (_, wt) => r.skip(wt)
        }
        out
      }
      assert(rows.toSet == Set((Seq(1.0, 10L), true), (Seq(2.0, 20L), false)))
    }
  }

  test("TrainTestSplit bidi protocol: INITIALIZE, then batched TRAINING/" +
    "TEST pulls with iterator_done; splits partition the frame") {
    withServer { (srv, ch) =>
      import spark.implicits._
      val df = (1 to 200).map(i => (i.toLong, i * 2.0, i % 3))
        .toDF("id", "f", "label")
      srv.registerTrainingSet("ts2", df)
      val responses = new java.util.concurrent.LinkedBlockingQueue[Either[Throwable, Array[Byte]]]()
      val call = ch.newCall(method("TrainTestSplit", BIDI_STREAMING),
        CallOptions.DEFAULT)
      val reqObs = ClientCalls.asyncBidiStreamingCall(call,
        new StreamObserver[Array[Byte]] {
          override def onNext(v: Array[Byte]): Unit = responses.put(Right(v))
          override def onError(t: Throwable): Unit = responses.put(Left(t))
          override def onCompleted(): Unit = ()
        })
      def send(requestType: Int, batchSize: Int): Array[Byte] = {
        val w = new W
        w.msg(1)(_.str(1, "ts2"))
        w.float(3, 0.25f)
        w.bool(5, true) // shuffle: seeded buffered permutation (set-based
        // assertions below hold under any order, so this covers the path)
        w.int32(6, 42)
        w.enum(7, requestType)
        if (batchSize > 0) w.int32(8, batchSize)
        reqObs.onNext(w.result())
        responses.poll(30, java.util.concurrent.TimeUnit.SECONDS) match {
          case Right(b) => b
          case Left(t) => throw t
          case null => fail("no response within 30s")
        }
      }
      // INITIALIZE
      val init = new R(send(0, 0))
      var initialized = false
      var more = true
      while (more) init.readTag() match {
        case (0, _) => more = false
        case (3, _) => initialized = init.readVarint() != 0
        case (_, wt) => init.skip(wt)
      }
      assert(initialized)
      // drain a side: repeated pulls until iterator_done
      def drain(t: Int): Seq[Long] = {
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        var done = false
        while (!done) {
          val r = new R(send(t, 32))
          var m2 = true
          while (m2) r.readTag() match {
            case (0, _) => m2 = false
            case (2, _) => done = r.readVarint() != 0
            case (4, _) =>
              val rows = r.readSlice()
              var rm = true
              while (rm) rows.readTag() match {
                case (0, _) => rm = false
                case (1, _) =>
                  val row = rows.readSlice()
                  var im = true
                  while (im) row.readTag() match {
                    case (0, _) => im = false
                    case (1, _) =>
                      readValue(row.readSlice()) match {
                        case id: Long => ids += id
                        case _ => ()
                      }
                    case (_, wt) => row.skip(wt)
                  }
                case (_, wt) => rows.skip(wt)
              }
            case (_, wt) => r.skip(wt)
          }
        }
        ids.toSeq
      }
      val train = drain(1)
      val test = drain(2)
      reqObs.onCompleted()
      assert(train.nonEmpty && test.nonEmpty)
      assert((train.toSet & test.toSet).isEmpty, "split sides overlap")
      assert(train.size + test.size == 200, "split sides must cover the frame")
      // ids collected once each (first feature column is unique)
      assert(train.distinct.size == train.size)
    }
  }

  test("concurrent RPCs on one channel: 16 threads mixing FeatureServe " +
    "and Nearest complete without errors or cross-talk") {
    val st = new OnlineStore(new InProcessKv)
    import spark.implicits._
    st.load("v", (0L until 64L).map(i => (i, i * 10L)).toDF("entity", "value"))
    st.loadVectors("emb",
      (0L until 16L).map(i => (i, Seq(i.toFloat, 1.0f))).toDF("entity", "vector"))
    val srv = new GrpcServe(st).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try {
      val bad = new java.util.concurrent.atomic.AtomicInteger(0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
      for (i <- 0 until 400) pool.submit(new Runnable {
        def run(): Unit = try {
          if (i % 2 == 0) {
            val req = new W
            idMsg(req, 1, "v")
            req.msg(2)(e => { e.str(1, "u"); e.str(3, (i % 64).toString) })
            val r = new R(unaryCall(ch, "FeatureServe", req.result()))
            assert(r.readTag()._1 == 2)
            val vl = r.readSlice()
            assert(vl.readTag()._1 == 1)
            // each response must carry ITS OWN entity's value (cross-talk
            // between interleaved streams would surface here)
            assert(readValue(vl.readSlice()) == (i % 64).toLong * 10L)
          } else {
            val req = new W
            idMsg(req, 1, "emb")
            req.msg(2)(_.packedFloats(1, Seq((i % 16).toFloat, 1.0f)))
            req.int32(3, 1)
            val r = new R(unaryCall(ch, "Nearest", req.result()))
            assert(r.readTag()._1 == 1 && r.readString() == (i % 16).toString)
          }
        } catch { case _: Throwable => bad.incrementAndGet() }
      })
      pool.shutdown()
      assert(pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(bad.get() == 0, s"${bad.get()} failed RPCs under concurrency")
      assert(srv.metrics.stats("FeatureServe").exists(_.requests.sum() == 200L))
      assert(srv.metrics.stats("Nearest").exists(_.requests.sum() == 200L))
    } finally { ch.shutdownNow(); srv.stop() }
  }

  test("BatchFeatureServe streams one row per entity across the tables") {
    val st = new OnlineStore(new InProcessKv)
    import spark.implicits._
    st.load("a", Seq((1L, 5L), (2L, 6L)).toDF("entity", "value"))
    st.load("b", Seq((2L, 7L), (3L, 8L)).toDF("entity", "value"))
    val srv = new GrpcServe(st).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try {
      val req = new W
      idMsg(req, 1, "a"); idMsg(req, 1, "b")
      val msgs = streamCall(ch, "BatchFeatureServe", req.result())
      val rows = msgs.flatMap { bytes =>
        val r = new R(bytes)
        val out = scala.collection.mutable.ArrayBuffer.empty[(Any, Seq[Any])]
        var more = true
        while (more) r.readTag() match {
          case (0, _) => more = false
          case (1, _) =>
            val row = r.readSlice()
            var ent: Any = null
            val fs = scala.collection.mutable.ArrayBuffer.empty[Any]
            var rm = true
            while (rm) row.readTag() match {
              case (0, _) => rm = false
              case (1, _) => ent = readValue(row.readSlice())
              case (2, _) => fs += readValue(row.readSlice())
              case (_, wt) => row.skip(wt)
            }
            out += ((ent, fs.toSeq))
          case (_, wt) => r.skip(wt)
        }
        out
      }
      assert(rows.toMap == Map(
        1L -> Seq(5L, null), 2L -> Seq(6L, 7L), 3L -> Seq(null, 8L)))
    } finally { ch.shutdownNow(); srv.stop() }
  }

  test("variant keying: a request naming an unregistered variant is " +
    "NOT_FOUND, never silently another variant; versionless requests " +
    "resolve a single registered variant") {
    withServer { (srv, ch) =>
      import spark.implicits._
      srv.registerSource("tx", "v1", Seq((1L, 2.0)).toDF("id", "v"))
      def cols(name: String, version: String): Seq[String] = {
        val resp = unaryCall(ch, "SourceColumns", {
          val w = new W
          w.msg(1)(m => { m.str(1, name); if (version.nonEmpty) m.str(2, version) })
          w.result()
        })
        val r = new R(resp)
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        var more = true
        while (more) r.readTag() match {
          case (0, _) => more = false
          case (1, _) => out += r.readString()
          case (_, wt) => r.skip(wt)
        }
        out.toSeq
      }
      assert(cols("tx", "v1") == Seq("id", "v"), "exact variant hit")
      assert(cols("tx", "") == Seq("id", "v"),
        "versionless request resolves the single registered variant")
      val e = intercept[org.sparkproject.connect.grpc.StatusRuntimeException](
        cols("tx", "v2"))
      assert(e.getStatus.getCode ==
        org.sparkproject.connect.grpc.Status.Code.NOT_FOUND)
      assert(e.getStatus.getDescription.contains("v2"))
      // two registered variants make a versionless request ambiguous
      srv.registerSource("tx", "v2", Seq((1L, "s")).toDF("id", "s"))
      val amb = intercept[org.sparkproject.connect.grpc.StatusRuntimeException](
        cols("tx", ""))
      assert(amb.getStatus.getCode ==
        org.sparkproject.connect.grpc.Status.Code.NOT_FOUND)
      assert(cols("tx", "v2") == Seq("id", "s"))
    }
  }

  test("SourceData limit beyond Int.MaxValue means 'everything' (no " +
    "negative-wrap through toInt)") {
    withServer { (srv, ch) =>
      import spark.implicits._
      srv.registerSource("big", (1 to 10).map(i => (i.toLong, i * 2.0))
        .toDF("id", "v"))
      val req = new W
      req.msg(1)(_.str(1, "big"))
      req.int64(2, Int.MaxValue.toLong + 1L)
      val msgs = streamCall(ch, "SourceData", req.result())
      val nRows = msgs.map { bytes =>
        val r = new R(bytes)
        var n = 0
        var more = true
        while (more) r.readTag() match {
          case (0, _) => more = false
          case (1, _) => r.readSlice(); n += 1
          case (_, wt) => r.skip(wt)
        }
        n
      }.sum
      assert(nRows == 10)
    }
  }

  test("Nearest accepts a spec-legal SPLIT packed vector: multiple LEN " +
    "chunks and a trailing unpacked element concatenate") {
    val st = new OnlineStore(new InProcessKv)
    import spark.implicits._
    val vecs = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(0.0f, 1.0f, 0.0f)),
      (3L, Seq(0.0f, 0.0f, 1.0f)))
    st.loadVectors("emb", vecs.toDF("entity", "vector"))
    val srv = new GrpcServe(st).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try {
      // query (0,1,0) split: packed [0.0] ++ packed [1.0] ++ unpacked 0.0
      val req = new W
      idMsg(req, 1, "emb")
      req.msg(2) { v =>
        v.packedFloats(1, Seq(0.0f))
        v.packedFloats(1, Seq(1.0f))
        v.float(1, 0.0f)
      }
      req.int32(3, 1)
      val r = new R(unaryCall(ch, "Nearest", req.result()))
      assert(r.readTag()._1 == 1 && r.readString() == "2",
        "split-encoded (0,1,0) must hit entity 2")
    } finally { ch.shutdownNow(); srv.stop() }
  }

  test("flow-controlled TrainingData drains fully to a slow client over a " +
    "small HTTP/2 window (e2e backpressure smoke)") {
    withServer { (srv, _) =>
      import spark.implicits._
      val n = 4000
      val df = (1 to n).map(i => (i.toLong, s"pad_$i" * 8, i * 1.0))
        .toDF("id", "txt", "label")
      srv.registerTrainingSet("slow_ts", df)
      val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
        .usePlaintext().flowControlWindow(16 * 1024).build()
      try {
        val req = new W
        req.msg(1)(_.str(1, "slow_ts"))
        val it = ClientCalls.blockingServerStreamingCall(ch,
          method("TrainingData", SERVER_STREAMING), CallOptions.DEFAULT,
          req.result())
        var rows = 0
        var i = 0
        while (it.hasNext) {
          val bytes = it.next()
          val r = new R(bytes)
          var more = true
          while (more) r.readTag() match {
            case (0, _) => more = false
            case (1, _) => r.readSlice(); rows += 1
            case (_, wt) => r.skip(wt)
          }
          i += 1
          if (i % 4 == 0) Thread.sleep(5) // slow consumer
        }
        assert(rows == n, s"all $n rows arrive despite the stalling client")
      } finally ch.shutdownNow()
    }
  }
}
