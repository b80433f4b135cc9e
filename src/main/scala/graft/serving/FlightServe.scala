package graft.serving

import java.nio.channels.Channels
import scala.jdk.CollectionConverters._

import org.apache.arrow.memory.RootAllocator
import org.apache.arrow.vector.VectorSchemaRoot
import org.apache.arrow.vector.VectorUnloader
import org.apache.arrow.vector.ipc.WriteChannel
import org.apache.arrow.vector.ipc.message.{ArrowRecordBatch, IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.pojo.Schema
import org.apache.spark.sql.{DataFrame, Row}
import org.sparkproject.connect.grpc.Status
import org.sparkproject.connect.grpc.stub.StreamObserver

import ProtoWire.{R, W}

/** Arrow Flight as a real WIRE protocol — `arrow.flight.protocol.
  * FlightService` (the public Flight.proto from apache/arrow) served on
  * gRPC/HTTP2, the transport the reference's streamer speaks
  * (streamer/iceberg_streamer.py:22-106 behind streamer_proxy/main.go:
  * GetFlightInfo + DoGet over registered tables). Round 6 built the
  * payload half ([[ArrowServe]], IPC record batches over HTTP chunked
  * transfer); this closes the transport half so an actual
  * `pyarrow.flight` / arrow-rs / flight-core client can connect — no
  * flight-core jar needed, because Flight IS protobuf-over-gRPC plus the
  * Arrow IPC split the arrow-vector jar already exposes:
  * FlightData.data_header is the unframed flatbuffer Message
  * ([[MessageSerializer.serializeMetadata]]) and data_body is the batch's
  * buffers laid out at their RecordBatch offsets (8-byte aligned,
  * [[ArrowRecordBatch.getBuffersLayout]]).
  *
  * Served RPCs: Handshake (open), ListFlights, GetFlightInfo, GetSchema,
  * DoGet (schema message, then record batches under
  * [[Backpressure.drive]] flow control), ListActions (empty). DoPut /
  * DoExchange / DoAction answer UNIMPLEMENTED like any generated server
  * missing a handler. Batches pull from `toLocalIterator` —
  * partition-at-a-time, never a full driver materialization — with the
  * same 2M-row serving-edge cap as the HTTP facade. */
final class FlightServe(port: Int = 0, batchRows: Int = 1024,
                        maxRows: Long = 2000000L,
                        val metrics: Metrics = new Metrics)
    extends Grpc.Endpoint(port) {
  import FlightServe._

  private val tables =
    scala.collection.concurrent.TrieMap.empty[String, DataFrame]

  /** Register a table under a Flight path (reference streamer: the
    * namespace/table the descriptor names). */
  def register(path: String, df: DataFrame): Unit = tables.put(path, df)

  // ------------------------------------------------------------ handlers

  /** FlightDescriptor{type=1, cmd=2, path=3 repeated} → table key: the
    * joined path, or the cmd bytes as UTF-8 (both client conventions). */
  private def descriptorKey(r: R): String = {
    var cmd = ""
    val path = scala.collection.mutable.ArrayBuffer.empty[String]
    r.fields {
      case (2, _) => cmd = new String(r.readBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
      case (3, _) => path += r.readString()
    }
    if (path.nonEmpty) path.mkString("/") else cmd
  }

  private def lookup(key: String): DataFrame =
    tables.getOrElse(key,
      throw Status.NOT_FOUND.withDescription(s"no flight $key")
        .asRuntimeException())

  private def arrowSchema(df: DataFrame): Schema =
    new Schema(df.schema.map(ArrowServe.toArrowField).asJava)

  /** FlightInfo.schema / SchemaResult.schema: the FRAMED IPC schema
    * message (continuation + length + flatbuffer) — what flight-core
    * writes and pyarrow's read_schema parses. */
  private def framedSchema(schema: Schema): Array[Byte] = {
    val baos = new java.io.ByteArrayOutputStream()
    MessageSerializer.serialize(
      new WriteChannel(Channels.newChannel(baos)), schema, IpcOption.DEFAULT)
    baos.toByteArray
  }

  private def writeFlightInfo(w: W, key: String, df: DataFrame): Unit = {
    w.bytes(1, framedSchema(arrowSchema(df)))
    w.msg(2) { d => // echo the descriptor as a PATH descriptor
      d.enum(1, 1)
      key.split('/').foreach(d.str(3, _))
    }
    w.msg(3) { ep => // one endpoint: this server, ticket = the key
      ep.msg(1)(_.bytes(1, key.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      ep.msg(2)(_.str(1, s"grpc+tcp://127.0.0.1:$boundPort"))
    }
    w.int64(4, -1L) // total_records unknown (streamed)
    w.int64(5, -1L)
  }

  private def getFlightInfo(req: Array[Byte]): Array[Byte] = {
    val key = descriptorKey(new R(req))
    val df = lookup(key)
    val w = new W
    writeFlightInfo(w, key, df)
    w.result()
  }

  private def getSchema(req: Array[Byte]): Array[Byte] = {
    val df = lookup(descriptorKey(new R(req)))
    val w = new W
    w.bytes(1, framedSchema(arrowSchema(df)))
    w.result()
  }

  private def listFlights(req: Array[Byte]): Iterator[Array[Byte]] =
    tables.toSeq.sortBy(_._1).iterator.map { case (key, df) =>
      val w = new W
      writeFlightInfo(w, key, df)
      w.result()
    }

  /** DoGet: Ticket{ticket=1 bytes} → FlightData stream. First message
    * carries the schema (data_header only), then one message per record
    * batch (data_header = RecordBatch flatbuffer, data_body = aligned
    * buffers). Vectors are built batch-at-a-time from `toLocalIterator`
    * with the same type mapping as the HTTP Arrow facade. */
  private def doGet(req: Array[Byte], obs: StreamObserver[Array[Byte]],
                    onDone: Option[Throwable] => Unit): Unit = {
    val r = new R(req)
    var key = ""
    r.fields {
      case (1, _) => key = new String(r.readBytes(),
        java.nio.charset.StandardCharsets.UTF_8)
    }
    val df = lookup(key)
    val sparkSchema = df.schema
    val schema = arrowSchema(df)
    val allocator = new RootAllocator(Long.MaxValue)
    val root = VectorSchemaRoot.create(schema, allocator)
    val unloader = new VectorUnloader(root)
    val rowIt = df.toLocalIterator()
    var written = 0L

    val schemaMsg: Array[Byte] = {
      val w = new W
      w.bytes(2, toBytes(MessageSerializer.serializeMetadata(schema, IpcOption.DEFAULT)))
      w.result()
    }

    def nextBatch(): Option[Array[Byte]] = {
      if (!rowIt.hasNext || written >= maxRows) return None
      val buf = new Array[Row](batchRows)
      var n = 0
      while (n < batchRows && written + n < maxRows && rowIt.hasNext) {
        buf(n) = rowIt.next(); n += 1
      }
      root.allocateNew()
      var c = 0
      while (c < sparkSchema.length) {
        ArrowServe.fillVector(root.getVector(c), sparkSchema(c).dataType, buf, n, c)
        c += 1
      }
      root.setRowCount(n)
      written += n
      val batch: ArrowRecordBatch = unloader.getRecordBatch()
      try {
        val header = toBytes(
          MessageSerializer.serializeMetadata(batch, IpcOption.DEFAULT))
        // body: each buffer at its flatbuffer-recorded offset (8-byte
        // aligned); gaps between buffers stay zero (IPC padding rule)
        val body = new Array[Byte](batch.computeBodyLength().toInt)
        val bufs = batch.getBuffers.asScala
        val layout = batch.getBuffersLayout.asScala
        var i = 0
        while (i < bufs.length) {
          val ab = bufs(i)
          val lo = layout(i)
          ab.getBytes(0, body, lo.getOffset.toInt, lo.getSize.toInt)
          i += 1
        }
        val w = new W
        w.bytes(2, header)
        w.bytes(1000, body)
        Some(w.result())
      } finally batch.close()
    }

    val msgs: Iterator[Array[Byte]] =
      Iterator.single(schemaMsg) ++
        Iterator.continually(nextBatch()).takeWhile(_.isDefined).map(_.get)
    Backpressure.drive(obs, msgs, err => {
      try { root.close(); allocator.close() } catch { case _: Throwable => () }
      onDone(err)
    })
  }

  /** Handshake: open server — echo one empty response and complete (the
    * no-auth handshake pyarrow performs on connect when asked). */
  private def handshake(obs: StreamObserver[Array[Byte]])
      : StreamObserver[Array[Byte]] =
    new StreamObserver[Array[Byte]] {
      override def onNext(req: Array[Byte]): Unit =
        obs.onNext(new W().result())
      override def onError(t: Throwable): Unit =
        // client-half failure: the RPC is already dead, but a silent drop
        // makes handshake issues undiagnosable — log, don't swallow
        org.slf4j.LoggerFactory.getLogger("graft.FlightServe")
          .warn(s"handshake client stream error: $t")
      override def onCompleted(): Unit = obs.onCompleted()
    }

  protected def services = Seq(new Grpc.Service(ServiceName, Some(metrics))
    .bidi("Handshake")(handshake)
    .stream("ListFlights")(listFlights)
    .unary("GetFlightInfo")(getFlightInfo)
    .unary("GetSchema")(getSchema)
    .serverStream("DoGet")(doGet)
    .stream("ListActions")(_ => Iterator.empty)
    .build())
}

object FlightServe {
  /** The public Flight service name — what every generated client dials. */
  val ServiceName = "arrow.flight.protocol.FlightService"

  def toBytes(bb: java.nio.ByteBuffer): Array[Byte] = {
    val out = new Array[Byte](bb.remaining())
    bb.get(out)
    out
  }

  /** The client half of DoGet: FlightData{data_header=2, data_body=1000}
    * frames → a framed Arrow IPC stream ([0xFFFFFFFF][len][flatbuffer +
    * pad][body] per message, EOS marker last) that ArrowStreamReader — or
    * any IPC consumer — reads directly. Exact inverse of the server's
    * split; what a generated Flight client does internally. */
  def reassembleIpc(frames: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
      out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
    }
    frames.foreach { fd =>
      val r = new R(fd)
      var header = Array.emptyByteArray
      var body = Array.emptyByteArray
      r.fields {
        case (2, _) => header = r.readBytes()
        case (1000, _) => body = r.readBytes()
      }
      val pad = (8 - (4 + 4 + header.length) % 8) % 8
      le32(0xFFFFFFFF)
      le32(header.length + pad)
      out.write(header)
      (0 until pad).foreach(_ => out.write(0))
      out.write(body)
    }
    le32(0xFFFFFFFF); le32(0) // end-of-stream
    out.toByteArray
  }
}
