package graft.serving

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSpec
import graft.serving.ProtoWire.{R, W}

/** Randomized wire-format round-trips for [[ProtoWire]] — the codec class
  * that bit round 10 once already (`skip` on a LEN field read the stale
  * `pos` before the length varint advanced it, silently dropping every
  * field after the first skipped one): every message is now fuzzed with
  * UNKNOWN fields interleaved at random positions, so a decode that
  * mis-skips anything loses a known field and fails loudly. */
class ProtoWireSpec extends SparkSpec {

  private sealed trait FVal
  private case class FVarint(v: Long) extends FVal
  private case class FStr(s: String) extends FVal
  private case class FFloat(f: Float) extends FVal
  private case class FDouble(d: Double) extends FVal
  private case class FPacked(fs: List[Float]) extends FVal
  private case class FMsg(inner: List[(Int, FVal)]) extends FVal

  // known fields use numbers 1..5; unknown noise uses 10..15 so the
  // decoder must SKIP them correctly to reach later known fields
  private def genVal(depth: Int): Gen[FVal] = {
    val scalars = Gen.oneOf(
      Gen.choose(Long.MinValue, Long.MaxValue).map(v => FVarint(v & Long.MaxValue)),
      Gen.alphaNumStr.map(s => FStr(s.take(24))),
      Gen.choose(-1e6f, 1e6f).map(FFloat),
      Gen.choose(-1e12, 1e12).map(FDouble),
      Gen.listOf(Gen.choose(-100f, 100f)).map(l => FPacked(l.take(8))))
    if (depth <= 0) scalars
    else Gen.frequency(
      4 -> scalars,
      // nested fields deduped by number: the schema-driven reader types a
      // field by its number, so duplicate numbers with different types
      // would be a generator artifact, not a codec defect
      1 -> Gen.listOfN(3, genField(depth - 1))
        .map(l => FMsg(l.groupBy(_._1).map(_._2.head).toList.sortBy(_._1))))
  }
  private def genField(depth: Int): Gen[(Int, FVal)] =
    for { f <- Gen.choose(1, 5); v <- genVal(depth) } yield (f, v)
  private def genNoise: Gen[(Int, FVal)] =
    for { f <- Gen.choose(10, 15); v <- genVal(1) } yield (f, v)

  private def write(w: W, f: Int, v: FVal): Unit = v match {
    case FVarint(x) => w.int64(f, x)
    case FStr(s) => w.str(f, s)
    case FFloat(x) => w.float(f, x)
    case FDouble(x) => w.double(f, x)
    case FPacked(fs) => w.packedFloats(f, fs)
    case FMsg(inner) => w.msg(f)(m => inner.foreach { case (g, u) => write(m, g, u) })
  }

  /** Decode ONLY fields 1..5 with the wire type implied by the value we
    * wrote there (the test knows the schema, like a generated parser);
    * everything else must be skipped. Values come back in field order of
    * appearance. */
  private def read(r: R, schema: Map[Int, FVal]): List[(Int, FVal)] = {
    val out = scala.collection.mutable.ListBuffer.empty[(Int, FVal)]
    var more = true
    while (more) r.readTag() match {
      case (0, _) => more = false
      case (f, wt) if f >= 1 && f <= 5 && schema.contains(f) =>
        schema(f) match {
          case _: FVarint => out += ((f, FVarint(r.readVarint())))
          case _: FStr => out += ((f, FStr(r.readString())))
          case _: FFloat => out += ((f, FFloat(r.readFloat())))
          case _: FDouble => out += ((f, FDouble(r.readDouble())))
          case _: FPacked => out += ((f, FPacked(r.readPackedFloats().toList)))
          case FMsg(inner) =>
            val innerSchema = inner.groupBy(_._1).view.mapValues(_.head._2).toMap
            out += ((f, FMsg(read(r.readSlice(), innerSchema))))
        }
      case (_, wt) => r.skip(wt)
    }
    out.toList
  }

  test("random messages with interleaved unknown fields round-trip exactly " +
    "(mis-skipping any wire type would drop or corrupt later fields)") {
    val genCase = for {
      fields <- Gen.listOfN(6, genField(2))
      noise <- Gen.listOfN(4, genNoise)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield {
      // fields must keep distinct numbers so the schema map is well-defined
      val known = fields.groupBy(_._1).map(_._2.head).toList
      val rnd = new scala.util.Random(seed)
      (known, rnd.shuffle(known ++ noise))
    }
    val prop = Prop.forAll(genCase) { case (known, interleaved) =>
      val w = new W
      interleaved.foreach { case (f, v) => write(w, f, v) }
      val schema = known.toMap
      val got = read(new R(w.result()), schema)
      // known fields survive with exact values, in their interleaved order
      val expected = interleaved.filter { case (f, _) => schema.contains(f) }
      got == expected
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("Value oneof codec round-trips every scalar shape GrpcServe emits") {
    val cases: Seq[Any] = Seq("s", 7, 7L, 1.5f, 2.5, true, false,
      Array(1.0f, -2.0f), null)
    cases.foreach { v =>
      val w = new W
      GrpcServe.writeValue(w, v)
      val back = GrpcServe.readValue(new R(w.result()))
      (v, back) match {
        case (a: Array[Float], b: Array[Float]) => assert(a.sameElements(b))
        case (a, b) => assert(a == b, s"$a != $b")
      }
    }
    // timestamp and decimal carry their documented mappings
    val w1 = new W
    GrpcServe.writeValue(w1, new java.sql.Timestamp(1234567L))
    assert(GrpcServe.readValue(new R(w1.result())) == 1234567L)
    val w2 = new W
    GrpcServe.writeValue(w2, BigDecimal("2.25"))
    assert(GrpcServe.readValue(new R(w2.result())) == 2.25)
  }

  test("truncated / overrunning payloads fail cleanly instead of reading " +
    "sibling bytes or crashing with ArrayIndexOutOfBounds") {
    // string field whose declared length overruns the buffer
    val w = new W
    w.str(1, "hello")
    val cut = w.result().take(4)
    val r1 = new R(cut)
    assert(r1.readTag() == ((1, ProtoWire.WtLen)))
    val e1 = intercept[IllegalArgumentException](r1.readString())
    assert(e1.getMessage.contains("truncated"))

    // nested message whose inner length overruns ITS slice while the
    // parent buffer still has bytes (a sibling field follows) — the old
    // reader would silently consume the sibling's bytes as string payload
    val buf = Array[Byte](0x0A, 0x04, 0x0A, 0x05, 'a', 'b', 0x12, 0x02, 'c', 'd')
    val outer = new R(buf)
    assert(outer.readTag() == ((1, ProtoWire.WtLen)))
    val inner = outer.readSlice()
    assert(inner.readTag() == ((1, ProtoWire.WtLen)))
    val e2 = intercept[IllegalArgumentException](inner.readString())
    assert(e2.getMessage.contains("truncated"))
    // the OUTER reader is unharmed: the sibling still parses
    assert(outer.readTag() == ((2, ProtoWire.WtLen)))
    assert(outer.readString() == "cd")

    // truncated fixed32 / fixed64 / varint / skip
    val r2 = new R(Array[Byte](0x0D, 0x00, 0x00))
    assert(r2.readTag() == ((1, ProtoWire.WtFixed32)))
    intercept[IllegalArgumentException](r2.readFloat())
    val r3 = new R(Array[Byte](0x09, 0x00))
    assert(r3.readTag() == ((1, ProtoWire.WtFixed64)))
    intercept[IllegalArgumentException](r3.readDouble())
    val r4 = new R(Array[Byte](0x08, 0x80.toByte))
    assert(r4.readTag() == ((1, ProtoWire.WtVarint)))
    intercept[IllegalArgumentException](r4.readVarint())
    val r5 = new R(Array[Byte](0x0A, 0x7F))
    assert(r5.readTag() == ((1, ProtoWire.WtLen)))
    intercept[IllegalArgumentException](r5.skip(ProtoWire.WtLen))
  }

  test("a zero tag before the end of the slice is malformed, not the end " +
    "of the message") {
    // field number 0 (tag byte 00), then a valid field 1 = "foo"
    val zero = Array[Byte](0x00, 0x0A, 0x03, 'f', 'o', 'o')
    val e = intercept[IllegalArgumentException](new R(zero).readTag())
    assert(e.getMessage.contains("malformed"))
    // only the end of the slice reads as the end marker
    val r = new R(Array[Byte](0x0A, 0x01, 'x'))
    assert(r.readTag() == ((1, ProtoWire.WtLen)))
    assert(r.readString() == "x")
    assert(r.readTag() == ((0, -1)))
  }

  test("fields runs to the slice end, skips what the handler does not " +
    "match, and fails on a zero tag") {
    val w = new W
    w.str(1, "a")
    w.int64(9, 5L) // unknown: skipped
    w.msg(2)(_.str(1, "inner"))
    w.double(10, 1.0) // unknown: skipped
    w.str(1, "b")
    val r = new R(w.result())
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    r.fields {
      case (1, _) => seen += r.readString()
      case (2, _) =>
        val m = r.readSlice()
        m.fields { case (1, _) => seen += m.readString() }
    }
    assert(seen == Seq("a", "inner", "b"))
    assert(!r.hasMore)
    val zero = new R(Array[Byte](0x0A, 0x01, 'x', 0x00, 0x0A, 0x01, 'y'))
    val got = scala.collection.mutable.ArrayBuffer.empty[String]
    val e = intercept[IllegalArgumentException] {
      zero.fields { case (1, _) => got += zero.readString() }
    }
    assert(e.getMessage.contains("malformed"))
    assert(got == Seq("x"))
  }
}
