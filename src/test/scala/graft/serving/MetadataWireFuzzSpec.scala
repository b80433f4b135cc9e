package graft.serving

import graft.SparkSpec
import graft.catalog._
import graft.serving.ProtoWire.{R, W}
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}

/** Randomized register→read-back property for the hand-rolled Metadata
  * wire codec (the ProtoWireSpec fuzz discipline applied to the new
  * service): 60 seeded-random source variants — arbitrary names/variants,
  * primary vs SQL definitions, unicode strings, tags, properties — each
  * encoded as a CreateSourceVariantRequest, registered over real
  * gRPC/HTTP2, read back through GetSourceVariants, and field-compared.
  * Any drift between the request parser and the response emitter (or a
  * field-number mistake on either side) surfaces as a mismatch. */
class MetadataWireFuzzSpec extends SparkSpec {
  import Grpc.method
  import MetadataServe.ServiceName
  import org.sparkproject.connect.grpc.MethodDescriptor.MethodType._

  private val rnd = new scala.util.Random(20260816L)

  private def randName(): String = {
    val alphabet = "abcdefghijklmnopqrstuvwxyz_0123456789"
    (1 to (3 + rnd.nextInt(12)))
      .map(_ => alphabet(rnd.nextInt(alphabet.length))).mkString
  }
  private def randText(): String = {
    val pool = Seq("plain", "söme-ünïcode", "tabs\tand\nnewlines",
      "quotes\"'`", "emoji ☃", "x" * (1 + rnd.nextInt(40)))
    pool(rnd.nextInt(pool.size)) + rnd.nextInt(1000)
  }

  private case class Cand(name: String, variant: String,
                          primaryPath: Option[String], sqlQuery: Option[String],
                          owner: String, description: String,
                          tags: Seq[String], props: Map[String, String])

  private def randCand(i: Int): Cand = {
    val primary = rnd.nextBoolean()
    Cand(
      name = s"src_${i}_${randName()}",
      variant = if (rnd.nextBoolean()) s"v${rnd.nextInt(100)}" else randName(),
      primaryPath = if (primary) Some(s"/data/${randName()}/${randName()}.parquet") else None,
      sqlQuery = if (primary) None
        else Some(s"SELECT ${randName()} FROM {{${randName()}.v1}} WHERE x > ${rnd.nextInt(100)}"),
      owner = if (rnd.nextBoolean()) randText() else "",
      description = if (rnd.nextBoolean()) randText() else "",
      tags = Seq.fill(rnd.nextInt(4))(randText()).distinct,
      props = Seq.fill(rnd.nextInt(4))(randName() -> randText()).toMap)
  }

  /** The SourceVariant message for a candidate. */
  private def body(c: Cand)(sv: W): Unit = {
    sv.str(1, c.name); sv.str(2, c.variant)
    c.primaryPath.foreach(p => sv.msg(15)(_.msg(3)(_.str(1, p))))
    c.sqlQuery.foreach(q => sv.msg(14)(_.msg(1)(_.str(1, q))))
    if (c.owner.nonEmpty) sv.str(4, c.owner)
    if (c.description.nonEmpty) sv.str(5, c.description)
    if (c.tags.nonEmpty) sv.msg(17)(t => c.tags.foreach(t.str(1, _)))
    if (c.props.nonEmpty) sv.msg(18) { p =>
      c.props.toSeq.sortBy(_._1).foreach { case (k, v) =>
        p.msg(1) { e => e.str(1, k); e.msg(2)(_.str(1, v)) }
      }
    }
  }

  /** CreateSourceVariantRequest{source_variant=1}. */
  private def encode(c: Cand): Array[Byte] = {
    val w = new W; w.msg(1)(body(c)); w.result()
  }

  private lazy val cands = (0 until 60).map(randCand)

  /** A server with every candidate registered over the wire. */
  private def withRegistered(test: ManagedChannel => Unit): Unit = {
    val srv = new MetadataServe(new Catalog(spark)).start()
    val ch: ManagedChannel = NettyChannelBuilder
      .forAddress("127.0.0.1", srv.boundPort).usePlaintext().build()
    try {
      cands.foreach { c =>
        ClientCalls.blockingUnaryCall(ch,
          method(ServiceName, "CreateSourceVariant", UNARY),
          CallOptions.DEFAULT, encode(c))
      }
      test(ch)
    } finally { ch.shutdownNow(); srv.stop() }
  }

  /** Decode the SourceVariant response fields under test. */
  private def decode(msg: Array[Byte]): Cand = {
    val r = new R(msg)
    var name = ""; var variant = ""; var owner = ""; var desc = ""
    var path: Option[String] = None
    var query: Option[String] = None
    val tags = scala.collection.mutable.ArrayBuffer.empty[String]
    val props = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var more = true
    while (more) r.readTag() match {
      case (0, _) => more = false
      case (1, _) => name = r.readString()
      case (2, _) => variant = r.readString()
      case (4, _) => owner = r.readString()
      case (5, _) => desc = r.readString()
      case (14, _) =>
        val t = r.readSlice()
        var tm = true
        while (tm) t.readTag() match {
          case (0, _) => tm = false
          case (1, _) =>
            val s = t.readSlice()
            var sm = true
            while (sm) s.readTag() match {
              case (0, _) => sm = false
              case (1, _) => query = Some(s.readString())
              case (_, wt) => s.skip(wt)
            }
          case (_, wt) => t.skip(wt)
        }
      case (15, _) =>
        val p = r.readSlice()
        var pm = true
        while (pm) p.readTag() match {
          case (0, _) => pm = false
          case (3, _) =>
            val f = p.readSlice()
            var fm = true
            while (fm) f.readTag() match {
              case (0, _) => fm = false
              case (1, _) => path = Some(f.readString())
              case (_, wt) => f.skip(wt)
            }
          case (_, wt) => p.skip(wt)
        }
      case (17, _) =>
        val t = r.readSlice()
        var tm = true
        while (tm) t.readTag() match {
          case (0, _) => tm = false
          case (1, _) => tags += t.readString()
          case (_, wt) => t.skip(wt)
        }
      case (18, _) =>
        val ps = r.readSlice()
        var pm = true
        while (pm) ps.readTag() match {
          case (0, _) => pm = false
          case (1, _) =>
            val e = ps.readSlice()
            var k = ""; var v = ""
            var em = true
            while (em) e.readTag() match {
              case (0, _) => em = false
              case (1, _) => k = e.readString()
              case (2, _) =>
                val pv = e.readSlice()
                var vm = true
                while (vm) pv.readTag() match {
                  case (0, _) => vm = false
                  case (1, _) => v = pv.readString()
                  case (_, wt) => pv.skip(wt)
                }
              case (_, wt) => e.skip(wt)
            }
            props += (k -> v)
          case (_, wt) => ps.skip(wt)
        }
      case (_, wt) => r.skip(wt)
    }
    Cand(name, variant, path, query, owner, desc, tags.toSeq, props.toMap)
  }

  test("60 seeded-random source variants survive register → GetSourceVariants " +
       "field-identically (names, definitions, owner/description, tags, " +
       "properties — unicode and control characters included)") {
    withRegistered { ch =>
      // read all back over one bidi stream
      val done = new java.util.concurrent.CountDownLatch(1)
      val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      @volatile var err: Throwable = null
      val reqObs = ClientCalls.asyncBidiStreamingCall(
        ch.newCall(method(ServiceName, "GetSourceVariants", BIDI_STREAMING),
          CallOptions.DEFAULT),
        new StreamObserver[Array[Byte]] {
          override def onNext(v: Array[Byte]): Unit = out.synchronized { out += v }
          override def onError(t: Throwable): Unit = { err = t; done.countDown() }
          override def onCompleted(): Unit = done.countDown()
        })
      cands.foreach { c =>
        val w = new W
        w.msg(1) { nv => nv.str(1, c.name); nv.str(2, c.variant) }
        reqObs.onNext(w.result())
      }
      reqObs.onCompleted()
      assert(done.await(60, java.util.concurrent.TimeUnit.SECONDS))
      assert(err == null, s"stream error: $err")
      assert(out.size == cands.size)
      cands.zip(out).foreach { case (c, bytes) =>
        val got = decode(bytes)
        assert(got == c, s"round-trip drift for ${c.name}/${c.variant}:\n" +
          s"  sent $c\n  got  $got")
      }
    }
  }

  test("GetEquivalent finds each of the 60 registered source variants from " +
       "the same body under a fresh variant (Create and GetEquivalent " +
       "decode alike)") {
    withRegistered { ch =>
      cands.foreach { c =>
        val w = new W
        w.msg(2)(_.msg(4)(body(c.copy(variant = c.variant + "_probe"))))
        val hit = ClientCalls.blockingUnaryCall(ch,
          method(ServiceName, "GetEquivalent", UNARY), CallOptions.DEFAULT,
          w.result())
        val got = MetadataServe.firstSlice(hit, 4).map { m =>
          var n = ""; var v = ""
          m.fields {
            case (1, _) => n = m.readString()
            case (2, _) => v = m.readString()
          }
          (n, v)
        }
        assert(got == Some((c.name, c.variant)), s"no equivalent for $c")
      }
    }
  }
}
