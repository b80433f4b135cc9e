package graft.serving

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.sparkproject.connect.grpc.Status
import org.sparkproject.connect.grpc.stub.StreamObserver

import graft.catalog.ResourceId
import ProtoWire.{R, W}

/** The reference's gRPC serving wire protocol, served for real — the
  * `featureform.serving.proto.Feature` service (proto/serving.proto:15-25;
  * server role serving/serving.go:57-127) on an actual gRPC/HTTP2
  * endpoint, so a generated reference client can connect. Runs entirely
  * on runtimes already in the Spark distribution: the gRPC core/netty and
  * protobuf runtimes shaded into spark-connect (`org.sparkproject.connect
  * .grpc` / `.protobuf` — grpc-netty binds the unshaded `io.netty` jars
  * beside it), plus the repo's dependency-free [[ProtoWire]] wire-format
  * codec. No generated stubs: each RPC is a [[Grpc]] method over an
  * identity byte marshaller, with request/response messages
  * encoded/decoded straight from the published protobuf wire spec — the
  * same bytes a protoc-generated client produces and parses.
  *
  * Method → engine mapping (same backing surfaces as the HTTP facade):
  *  - FeatureServe → [[OnlineStore.features]] (O1/O2/O3; entity duck-typed
  *    long-or-string like the HTTP route)
  *  - Nearest → [[OnlineStore.nearest]] (O4)
  *  - TrainingData / TrainingDataColumns → registered training frames
  *    (B3/S9: streamed via `toLocalIterator`, 256 rows per message)
  *  - SourceData / SourceColumns → registered sources with `limit` (S10/O6)
  *  - BatchFeatureServe → [[OnlineStore.batchRows]] (B1/B2 shape)
  *  - TrainTestSplit (bidi) → [[graft.ops.SplitSession]] (X3: INITIALIZE /
  *    TRAINING / TEST protocol with per-request batch_size and
  *    iterator_done, reference serving.py:310-410)
  *  - GetResourceLocation → registered location strings
  *
  * Scalar mapping onto the proto `Value` oneof: String→str, Int→int32,
  * Long→int64, Float→float, Double→double, Boolean→bool, float array →
  * Vector32, Timestamp→int64 epoch-millis, Decimal→double, null → empty
  * Value (proto3 unset oneof). */
final class GrpcServe(store: OnlineStore, port: Int = 0,
                      /** Same per-route counters/histograms as the HTTP
                        * facade (route = method name) — server-side latency
                        * truth beside the client-observed numbers. Pass a
                        * ServingServer's instance to expose the gRPC routes
                        * on that server's `/metrics` scrape (one scrape for
                        * both wire surfaces). */
                      val metrics: Metrics = new Metrics)
    extends Grpc.Endpoint(port) {
  import GrpcServe._

  // Every registry keys name/variant — the reference keys all resources by
  // (name, variant) (serving.go:617-714); a request naming a variant that
  // was never registered is NOT_FOUND, not silently the wrong variant.
  // Variant "" is the versionless registration; a versionless REQUEST also
  // matches a name with exactly one registered variant (default-variant
  // role).
  private val sources = scala.collection.concurrent.TrieMap.empty[String, DataFrame]
  private val trainingSets = scala.collection.concurrent.TrieMap.empty[String, (DataFrame, String)]
  private val locations = scala.collection.concurrent.TrieMap.empty[String, String]

  def registerSource(name: String, df: DataFrame): Unit =
    registerSource(name, "", df)
  def registerSource(name: String, variant: String, df: DataFrame): Unit =
    sources.put(s"$name/$variant", df)

  /** Register a training frame; `labelCol` defaults to `label` if present
    * else the LAST column (the reference's training frames end in the
    * label). */
  def registerTrainingSet(name: String, df: DataFrame,
                          labelCol: String = "", variant: String = ""): Unit = {
    val label =
      if (labelCol.nonEmpty) labelCol
      else if (df.columns.contains("label")) "label"
      else df.columns.last
    trainingSets.put(s"$name/$variant", (df, label))
  }

  def registerLocation(name: String, variant: String, location: String): Unit =
    locations.put(s"$name/$variant", location)

  // ------------------------------------------------------------ handlers

  private def featureServe(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    val entities = scala.collection.mutable.ArrayBuffer.empty[String]
    r.fields {
      case (1, _) => names += storeKey(Grpc.readNameVariant(r.readSlice()))
      case (2, _) =>
        val e = r.readSlice()
        e.fields {
          case (2, _) => entities += e.readString() // deprecated single
          case (3, _) => entities += e.readString()
        }
    }
    require(entities.nonEmpty, "at least one entity required")
    val w = new W
    entities.foreach { raw =>
      val entity: Any = raw.toLongOption.getOrElse(raw) // HTTP route's rule
      val vs = store.features(names.toSeq, entity)
      w.msg(2) { vl => vs.foreach(v => vl.msg(1)(writeValue(_, v.orNull))) }
    }
    w.result()
  }

  private def nearest(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var name = ""
    // accumulated, not assigned: the protobuf spec requires repeated-field
    // runs to CONCATENATE, and a conformant serializer may legally split a
    // packed field into several LEN chunks or mix packed and unpacked
    val vec = scala.collection.mutable.ArrayBuffer.empty[Float]
    var k = 0
    r.fields {
      case (1, _) => name = storeKey(Grpc.readNameVariant(r.readSlice()))
      case (2, _) =>
        val v = r.readSlice()
        v.fields {
          case (1, ProtoWire.WtLen) => vec ++= v.readPackedFloats()
          case (1, ProtoWire.WtFixed32) => vec += v.readFloat()
        }
      case (3, _) => k = r.readVarint().toInt
    }
    val w = new W
    store.nearest(name, vec.toArray, k).foreach { case (id, _) => w.str(1, id.toString) }
    w.result()
  }

  private def trainingColumns(req: Array[Byte]): Array[Byte] = {
    val (df, label) = lookupTraining(readIdField(req))
    val w = new W
    df.columns.filterNot(_ == label).foreach(w.str(1, _))
    w.str(2, label)
    w.result()
  }

  private def sourceColumns(req: Array[Byte]): Array[Byte] = {
    val df = lookupSource(readIdField(req))
    val w = new W
    df.columns.foreach(w.str(1, _))
    w.result()
  }

  /** FeatureID → OnlineStore table key: bare name when versionless, else
    * `name/version` — so a variant the store never loaded reads as absent
    * instead of silently serving whatever single variant exists. */
  private def storeKey(id: ResourceId): String =
    if (id.variant.isEmpty) id.name else s"${id.name}/${id.variant}"

  private def resourceLocation(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var name = ""
    var variant = ""
    r.fields {
      case (1, _) => name = r.readString()
      case (2, _) => variant = r.readString()
    }
    val loc = locations.getOrElse(s"$name/$variant",
      throw Status.NOT_FOUND.withDescription(s"no location for $name/$variant")
        .asRuntimeException())
    val w = new W
    w.str(1, loc)
    w.result()
  }

  private def trainingData(req: Array[Byte]): Iterator[Array[Byte]] = {
    val (df, label) = lookupTraining(readIdField(req))
    val featCols = df.columns.filterNot(_ == label)
    val ordered = df.selectExpr((featCols :+ label).map(c => s"`$c`"): _*)
    rowMessages(ordered) { (w, row) =>
      w.msg(1) { m =>
        var i = 0
        while (i < featCols.length) { m.msg(1)(writeValue(_, row.get(i))); i += 1 }
        m.msg(2)(writeValue(_, row.get(featCols.length)))
      }
    }
  }

  private def sourceData(req: Array[Byte]): Iterator[Array[Byte]] = {
    val r = new R(req)
    var id = ResourceId("", "")
    var limit = Long.MaxValue
    r.fields {
      case (1, _) => id = Grpc.readNameVariant(r.readSlice())
      case (2, _) => limit = r.readVarint()
    }
    val df0 = lookupSource(id)
    // clamp: a client-sent limit in (2^31, 2^63) must mean "everything",
    // not wrap negative through toInt and throw in Spark
    val df = if (limit > 0 && limit < Int.MaxValue.toLong) df0.limit(limit.toInt)
             else df0
    rowMessages(df) { (w, row) =>
      w.msg(1) { m =>
        var i = 0
        while (i < row.length) { m.msg(1)(writeValue(_, row.get(i))); i += 1 }
      }
    }
  }

  private def batchFeatureServe(req: Array[Byte]): Iterator[Array[Byte]] = {
    val r = new R(req)
    val names = scala.collection.mutable.ArrayBuffer.empty[String]
    r.fields {
      case (1, _) => names += storeKey(Grpc.readNameVariant(r.readSlice()))
    }
    store.batchRows(names.toSeq).grouped(RowsPerMessage).map { group =>
      val w = new W
      group.foreach { case (entity, vals) =>
        w.msg(1) { m =>
          m.msg(1)(writeValue(_, entity))
          vals.foreach(v => m.msg(2)(writeValue(_, v.orNull)))
        }
      }
      w.result()
    }
  }

  /** Bidi TrainTestSplit: INITIALIZE pins the split view, then each
    * TRAINING/TEST request pulls `batch_size` rows from the respective
    * paired iterator; `iterator_done` marks exhaustion (reference protocol
    * serving.py:310-410). One [[graft.ops.SplitSession]] per RPC. */
  private def trainTestSplit(obs: StreamObserver[Array[Byte]])
      : StreamObserver[Array[Byte]] =
    new StreamObserver[Array[Byte]] {
      private var session: graft.ops.SplitSession = _
      private var labelIdx = -1
      private var trainIt: Iterator[Row] = _
      private var testIt: Iterator[Row] = _

      override def onNext(req: Array[Byte]): Unit = try {
        val r = new R(req)
        var id = ResourceId("", "")
        var testSize = 0.0f
        var shuffle = false
        var randomState = 0
        var requestType = 0
        var batchSize = 1024
        r.fields {
          case (1, _) => id = Grpc.readNameVariant(r.readSlice())
          case (3, _) => testSize = r.readFloat()
          case (5, _) => shuffle = r.readVarint() != 0
          case (6, _) => randomState = r.readVarint().toInt
          case (7, _) => requestType = r.readVarint().toInt
          case (8, _) => batchSize = math.max(1, r.readVarint().toInt)
        }
        requestType match {
          case 0 => // INITIALIZE
            // re-INITIALIZE on the same RPC replaces the session: close
            // the old one or its persisted split frame leaks for the JVM
            if (session != null) { session.close(); session = null }
            val (df, label) = lookupTraining(id)
            labelIdx = df.columns.indexOf(label)
            session = new graft.ops.SplitSession(df, Seq(df.columns.head),
              testSize.toDouble, randomState.toLong).initialize()
            // the request's shuffle flag is honored with the training-set
            // iterator's buffered shuffle, seeded by random_state (the
            // reference shuffles client-side the same way; the SPLIT
            // itself is hash-deterministic either way)
            def it(base: Iterator[Row]): Iterator[Row] =
              if (shuffle) TrainingSetIterator.shuffled(base,
                bufferSize = 1024, seed = randomState.toLong)
              else base
            trainIt = it(session.train())
            testIt = it(session.test())
            val w = new W
            w.enum(1, 0)
            w.bool(3, true) // result = initialized
            obs.onNext(w.result())
          case t => // 1 = TRAINING, 2 = TEST
            require(session != null, "INITIALIZE first")
            val it = if (t == 1) trainIt else testIt
            val batch = it.take(batchSize).toSeq
            val w = new W
            w.enum(1, t)
            w.msg(4) { rows =>
              batch.foreach { row =>
                rows.msg(1) { m =>
                  var i = 0
                  while (i < row.length) {
                    if (i != labelIdx) m.msg(1)(writeValue(_, row.get(i)))
                    i += 1
                  }
                  m.msg(2)(writeValue(_, row.get(labelIdx)))
                }
              }
            }
            w.bool(2, !it.hasNext)
            obs.onNext(w.result())
        }
      } catch {
        case e: Throwable =>
          // close BEFORE erroring: after onError the transport may never
          // deliver onError/onCompleted to this request observer, and the
          // session's persisted split frame would leak for the JVM's life
          if (session != null) { session.close(); session = null }
          obs.onError(Backpressure.toStatus(e))
      }

      override def onError(t: Throwable): Unit =
        if (session != null) { session.close(); session = null }
      override def onCompleted(): Unit = {
        if (session != null) { session.close(); session = null }
        obs.onCompleted()
      }
    }

  // ----------------------------------------------------------- helpers

  /** Variant-aware registry lookup: exact (name, variant) hit; a
    * versionless request falls back to the name's SINGLE registered
    * variant; anything else is NOT_FOUND (the reference 404s a variant
    * mismatch rather than serving another variant, serving.go:617-714). */
  private def lookup[T](m: scala.collection.concurrent.TrieMap[String, T],
                        kind: String, id: ResourceId): T = {
    val ResourceId(name, version) = id
    m.get(s"$name/$version")
      .orElse {
        if (version.nonEmpty) None
        else {
          val hits = m.filterKeys(_.startsWith(name + "/")).values.toSeq
          if (hits.size == 1) Some(hits.head) else None
        }
      }
      .getOrElse(throw Status.NOT_FOUND.withDescription(
        s"$kind $name" + (if (version.nonEmpty) s" variant $version" else ""))
        .asRuntimeException())
  }
  private def lookupSource(id: ResourceId): DataFrame =
    lookup(sources, "source", id)
  private def lookupTraining(id: ResourceId): (DataFrame, String) =
    lookup(trainingSets, "training set", id)

  private def readIdField(req: Array[Byte]): ResourceId = {
    val r = new R(req)
    var id = ResourceId("", "")
    r.fields {
      case (1, _) => id = Grpc.readNameVariant(r.readSlice())
    }
    id
  }

  /** A frame as length-bounded messages: `toLocalIterator`
    * (partition-at-a-time, never the whole frame on this node) grouped to
    * [[RowsPerMessage]] rows per gRPC message. The stream routes produce
    * them under gRPC flow control ([[Backpressure.drive]]) so a slow client
    * stalls the PRODUCER instead of accumulating encoded batches on the
    * driver heap. */
  private def rowMessages(df: DataFrame)
                         (writeRow: (W, Row) => Unit): Iterator[Array[Byte]] =
    df.toLocalIterator().asScala.grouped(RowsPerMessage).map { group =>
      val w = new W
      group.foreach(row => writeRow(w, row))
      w.result()
    }

  protected def services = Seq(new Grpc.Service(ServiceName, Some(metrics))
    .unary("FeatureServe")(featureServe)
    .unary("Nearest")(nearest)
    .unary("TrainingDataColumns")(trainingColumns)
    .unary("SourceColumns")(sourceColumns)
    .unary("GetResourceLocation")(resourceLocation)
    .stream("TrainingData")(trainingData)
    .stream("SourceData")(sourceData)
    .stream("BatchFeatureServe")(batchFeatureServe)
    .bidi("TrainTestSplit")(trainTestSplit)
    .build())
}

object GrpcServe {
  val ServiceName = "featureform.serving.proto.Feature"
  val RowsPerMessage = 256

  /** Scala value → proto `Value` oneof (field numbers from
    * proto/serving.proto:94-107). null → no field set (proto3 unset). */
  def writeValue(w: W, v: Any): Unit = v match {
    case null => ()
    case s: String => w.str(1, s)
    case i: Int => w.int32(6, i)
    case l: Long => w.int64(5, l)
    case f: Float => w.float(3, f)
    case d: Double => w.double(4, d)
    case b: Boolean => w.bool(7, b)
    case t: java.sql.Timestamp => w.int64(5, t.getTime)
    case d: java.math.BigDecimal => w.double(4, d.doubleValue())
    case d: BigDecimal => w.double(4, d.toDouble)
    case a: Array[Float] => w.msg(9)(_.packedFloats(1, a))
    case s: Seq[_] if s.forall(_.isInstanceOf[Float]) =>
      w.msg(9)(_.packedFloats(1, s.asInstanceOf[Seq[Float]]))
    case r: Row => // struct values (e.g. (v, t) pairs) flatten to first field
      writeValue(w, r.get(0))
    case other => w.str(1, other.toString)
  }

  /** proto `Value` → Scala (the client half; exercised by GrpcServeSpec's
    * in-JVM generated-client stand-in). */
  def readValue(r: R): Any = {
    var out: Any = null
    r.fields {
      case (1, _) => out = r.readString()
      case (2, _) => out = r.readVarint().toInt
      case (3, _) => out = r.readFloat()
      case (4, _) => out = r.readDouble()
      case (5, _) => out = r.readVarint()
      case (6, _) => out = r.readVarint().toInt
      case (7, _) => out = r.readVarint() != 0
      case (9, _) =>
        val v = r.readSlice()
        // repeated-field runs concatenate (packed chunks may be split,
        // packed and unpacked may legally mix — protobuf spec)
        val acc = scala.collection.mutable.ArrayBuffer.empty[Float]
        out match { case a: Array[Float] => acc ++= a; case _ => () }
        v.fields {
          case (1, ProtoWire.WtLen) => acc ++= v.readPackedFloats()
          case (1, ProtoWire.WtFixed32) => acc += v.readFloat()
        }
        out = acc.toArray
      case (10, _) => out = r.readVarint().toInt
      case (11, _) => out = r.readVarint()
    }
    out
  }
}
