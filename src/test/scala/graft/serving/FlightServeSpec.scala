package graft.serving

import java.io.ByteArrayInputStream
import java.nio.channels.Channels
import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.serving.ProtoWire.{R, W}
import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.ipc.{ArrowStreamReader, ReadChannel}
import org.apache.arrow.vector.ipc.message.MessageSerializer
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.ClientCalls

/** The Arrow Flight wire protocol over a real TCP/HTTP2 connection. The
  * in-JVM client hand-decodes FlightData frames from the published
  * Flight.proto field numbers, REASSEMBLES the framed Arrow IPC stream
  * from (data_header, data_body) pairs, and reads it back with Arrow's
  * own ArrowStreamReader — so the server's header/body split is verified
  * against the real Arrow library, not our own writer. A second,
  * environment-gated test drives an actual generated `pyarrow.flight`
  * client (scripts/check_flight.py) against the same server. */
class FlightServeSpec extends SparkSpec {
  import org.sparkproject.connect.grpc.MethodDescriptor.MethodType
  import MethodType._

  private def method(rpc: String, mt: MethodType) =
    Grpc.method(FlightServe.ServiceName, rpc, mt)

  private def sampleDf = {
    import spark.implicits._
    Seq(
      (1L, "alpha", 1.5, Array(0.1f, 0.2f)),
      (2L, "beta", 2.5, Array(0.3f, 0.4f)),
      (3L, "gamma", -1.0, Array(0.5f, 0.6f)))
      .toDF("id", "name", "value", "emb")
  }

  private def withServer(body: (FlightServe, ManagedChannel) => Unit): Unit = {
    val srv = new FlightServe(batchRows = 2).start() // multi-batch on 3 rows
    srv.register("events/v1", sampleDf)
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try body(srv, ch)
    finally { ch.shutdownNow(); srv.stop() }
  }

  private def pathDescriptor(parts: String*): Array[Byte] = {
    val w = new W
    w.enum(1, 1) // PATH
    parts.foreach(w.str(3, _))
    w.result()
  }

  /** FlightData{data_header=2, data_body=1000} frames → a framed Arrow
    * IPC stream: [0xFFFFFFFF][len][flatbuffer+pad][body] per message,
    * EOS marker at the end (the exact inverse of the server's split). */
  private def reassembleIpc(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    frames.foreach { fd =>
      val r = new R(fd)
      var header = Array.emptyByteArray
      var bodyB = Array.emptyByteArray
      var more = true
      while (more) r.readTag() match {
        case (0, _) => more = false
        case (2, _) => header = r.readBytes()
        case (1000, _) => bodyB = r.readBytes()
        case (_, wt) => r.skip(wt)
      }
      val unpadded = 4 + 4 + header.length
      val pad = (8 - unpadded % 8) % 8
      le32(0xFFFFFFFF)
      le32(header.length + pad)
      out.write(header)
      (0 until pad).foreach(_ => out.write(0))
      out.write(bodyB)
    }
    le32(0xFFFFFFFF); le32(0) // end-of-stream
    out.toByteArray
  }

  test("DoGet frames reassemble into an IPC stream Arrow's own reader " +
       "accepts, with the source values intact across multiple batches") {
    withServer { (_, ch) =>
      val ticket = { val w = new W; w.str(1, "events/v1"); w.result() }
      val frames = ClientCalls.blockingServerStreamingCall(ch,
        method("DoGet", SERVER_STREAMING), CallOptions.DEFAULT, ticket)
        .asScala.toSeq
      // schema message + ceil(3/2) batch messages
      assert(frames.size == 3, s"expected 3 FlightData frames, got ${frames.size}")

      val alloc = new RootAllocator(Long.MaxValue)
      val reader = new ArrowStreamReader(
        new ByteArrayInputStream(reassembleIpc(frames)), alloc)
      try {
        val root = reader.getVectorSchemaRoot
        assert(root.getSchema.getFields.asScala.map(_.getName) ==
          Seq("id", "name", "value", "emb"))
        val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
        val names = scala.collection.mutable.ArrayBuffer.empty[String]
        val values = scala.collection.mutable.ArrayBuffer.empty[Double]
        var embFirst = -1.0f
        while (reader.loadNextBatch()) {
          val idV = root.getVector("id").asInstanceOf[org.apache.arrow.vector.BigIntVector]
          val nameV = root.getVector("name").asInstanceOf[org.apache.arrow.vector.VarCharVector]
          val valV = root.getVector("value").asInstanceOf[org.apache.arrow.vector.Float8Vector]
          val embV = root.getVector("emb").asInstanceOf[org.apache.arrow.vector.complex.ListVector]
          (0 until root.getRowCount).foreach { i =>
            ids += idV.get(i)
            names += new String(nameV.get(i), java.nio.charset.StandardCharsets.UTF_8)
            values += valV.get(i)
            if (embFirst < 0 && ids.last == 1L)
              embFirst = embV.getDataVector
                .asInstanceOf[org.apache.arrow.vector.Float4Vector].get(0)
          }
        }
        assert(ids.toSeq == Seq(1L, 2L, 3L))
        assert(names.toSeq == Seq("alpha", "beta", "gamma"))
        assert(values.toSeq == Seq(1.5, 2.5, -1.0))
        assert(math.abs(embFirst - 0.1f) < 1e-6)
      } finally { reader.close(); alloc.close() }
    }
  }

  test("GetFlightInfo carries a parseable framed schema, the echo " +
       "descriptor, and a ticket naming the flight; GetSchema agrees; " +
       "unknown flights are NOT_FOUND") {
    withServer { (_, ch) =>
      val resp = ClientCalls.blockingUnaryCall(ch,
        method("GetFlightInfo", UNARY), CallOptions.DEFAULT,
        pathDescriptor("events", "v1"))
      val r = new R(resp)
      var schemaBytes = Array.emptyByteArray
      var ticket = ""
      var uri = ""
      var more = true
      while (more) r.readTag() match {
        case (0, _) => more = false
        case (1, _) => schemaBytes = r.readBytes()
        case (3, _) =>
          val ep = r.readSlice()
          var em = true
          while (em) ep.readTag() match {
            case (0, _) => em = false
            case (1, _) =>
              val t = ep.readSlice()
              var tm = true
              while (tm) t.readTag() match {
                case (0, _) => tm = false
                case (1, _) => ticket = new String(t.readBytes(),
                  java.nio.charset.StandardCharsets.UTF_8)
                case (_, wt) => t.skip(wt)
              }
            case (2, _) =>
              val l = ep.readSlice()
              var lm = true
              while (lm) l.readTag() match {
                case (0, _) => lm = false
                case (1, _) => uri = l.readString()
                case (_, wt) => l.skip(wt)
              }
            case (_, wt) => ep.skip(wt)
          }
        case (_, wt) => r.skip(wt)
      }
      assert(ticket == "events/v1")
      assert(uri.startsWith("grpc+tcp://127.0.0.1:"))
      // the framed schema parses with Arrow's own deserializer
      val schema = MessageSerializer.deserializeSchema(new ReadChannel(
        Channels.newChannel(new ByteArrayInputStream(schemaBytes))))
      assert(schema.getFields.asScala.map(_.getName) ==
        Seq("id", "name", "value", "emb"))

      val sr = ClientCalls.blockingUnaryCall(ch, method("GetSchema", UNARY),
        CallOptions.DEFAULT, pathDescriptor("events", "v1"))
      val sr2 = new R(sr)
      assert(sr2.readTag()._1 == 1)
      val schema2 = MessageSerializer.deserializeSchema(new ReadChannel(
        Channels.newChannel(new ByteArrayInputStream(sr2.readBytes()))))
      assert(schema2 == schema)

      val nf = intercept[org.sparkproject.connect.grpc.StatusRuntimeException] {
        ClientCalls.blockingUnaryCall(ch, method("GetFlightInfo", UNARY),
          CallOptions.DEFAULT, pathDescriptor("nope"))
      }
      assert(nf.getStatus.getCode.toString == "NOT_FOUND")
    }
  }

  test("ListFlights streams one FlightInfo per registered table") {
    withServer { (srv, ch) =>
      srv.register("other/t", sampleDf.select("id"))
      val infos = ClientCalls.blockingServerStreamingCall(ch,
        method("ListFlights", SERVER_STREAMING), CallOptions.DEFAULT,
        new W().result()).asScala.toSeq
      assert(infos.size == 2)
    }
  }

  test("a REAL generated pyarrow.flight client connects, walks " +
       "ListFlights/GetFlightInfo/GetSchema/DoGet, and reads the table " +
       "(environment-gated like the jar-gated format specs)") {
    val probe = try {
      new ProcessBuilder("python3", "-c", "import pyarrow.flight")
        .start().waitFor() == 0
    } catch { case _: Exception => false }
    assume(probe, "pyarrow.flight not available in this environment")
    withServer { (srv, _) =>
      val pb = new ProcessBuilder("python3",
        "scripts/check_flight.py", srv.boundPort.toString, "events", "v1")
      pb.redirectErrorStream(true)
      val proc = pb.start()
      val out = new String(proc.getInputStream.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      val code = proc.waitFor()
      assert(code == 0, s"pyarrow client failed (exit $code): $out")
      assert(out.contains("\"ok\": true"), out)
      assert(out.contains("\"rows\": 3"), out)
      assert(out.contains("\"sum_value\": 3.0"), out) // 1.5 + 2.5 - 1.0
    }
  }
}
