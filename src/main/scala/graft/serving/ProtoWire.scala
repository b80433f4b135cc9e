package graft.serving

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets

/** Minimal protobuf WIRE-FORMAT codec — just the four wire types the
  * reference's serving.proto uses (proto/serving.proto: varint,
  * 32-bit, 64-bit, length-delimited), hand-rolled so the gRPC surface
  * ([[GrpcServe]]) carries zero generated code and no dependency beyond
  * the JDK. The wire format is a stable, published spec
  * (protobuf.dev/programming-guides/encoding): a message is a sequence
  * of `tag = (field << 3) | wireType` varints followed by the payload;
  * unknown fields are skippable by wire type, which is what makes this
  * interoperable with any generated client. */
object ProtoWire {

  val WtVarint = 0
  val WtFixed64 = 1
  val WtLen = 2
  val WtFixed32 = 5

  /** Message writer. Fields must be written in any order (proto permits
    * it); nested messages via [[msg]]. */
  final class W {
    private[ProtoWire] val out = new ByteArrayOutputStream()

    def result(): Array[Byte] = out.toByteArray

    def varintRaw(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0L) {
        out.write(((v & 0x7F) | 0x80).toInt)
        v >>>= 7
      }
      out.write(v.toInt)
    }
    private def tag(field: Int, wt: Int): Unit = varintRaw((field.toLong << 3) | wt)

    def int32(field: Int, v: Int): Unit = { tag(field, WtVarint); varintRaw(v.toLong) }
    def int64(field: Int, v: Long): Unit = { tag(field, WtVarint); varintRaw(v) }
    def bool(field: Int, v: Boolean): Unit = { tag(field, WtVarint); varintRaw(if (v) 1 else 0) }
    def enum(field: Int, v: Int): Unit = int32(field, v)

    def float(field: Int, v: Float): Unit = {
      tag(field, WtFixed32)
      val bits = java.lang.Float.floatToIntBits(v)
      var i = 0
      while (i < 4) { out.write((bits >>> (8 * i)) & 0xFF); i += 1 }
    }
    def double(field: Int, v: Double): Unit = {
      tag(field, WtFixed64)
      val bits = java.lang.Double.doubleToLongBits(v)
      var i = 0
      while (i < 8) { out.write(((bits >>> (8 * i)) & 0xFF).toInt); i += 1 }
    }
    def bytes(field: Int, v: Array[Byte]): Unit = {
      tag(field, WtLen); varintRaw(v.length.toLong); out.write(v, 0, v.length)
    }
    def str(field: Int, v: String): Unit =
      bytes(field, v.getBytes(StandardCharsets.UTF_8))

    /** Nested message / group-of-fields as a length-delimited payload. */
    def msg(field: Int)(body: W => Unit): Unit = {
      val w = new W
      body(w)
      bytes(field, w.result())
    }

    /** proto3 packed repeated float (the Vector32.value encoding). */
    def packedFloats(field: Int, vs: Iterable[Float]): Unit = {
      tag(field, WtLen)
      varintRaw(4L * vs.size)
      vs.foreach { v =>
        val bits = java.lang.Float.floatToIntBits(v)
        var i = 0
        while (i < 4) { out.write((bits >>> (8 * i)) & 0xFF); i += 1 }
      }
    }
  }

  /** Message reader over a byte slice. Decode a message with [[fields]]:
    * it dispatches each field to the handler by (field number, wire type)
    * and [[skip]]s anything the handler does not match — the
    * forward-compat contract generated parsers follow. Every read is
    * bounds-checked against the SLICE's `end` (not the backing array), so
    * a truncated or malformed nested message fails with a clean
    * "truncated message" error instead of silently reading sibling/parent
    * bytes or throwing ArrayIndexOutOfBounds deep in a handler. */
  final class R(buf: Array[Byte], start: Int, end: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)
    private var pos = start

    def hasMore: Boolean = pos < end

    private def need(n: Int): Unit =
      if (n < 0 || pos + n > end)
        throw new IllegalArgumentException(
          s"truncated message: need $n bytes at $pos, slice ends at $end")

    def readVarint(): Long = {
      var shift = 0
      var v = 0L
      while (shift < 64) {
        need(1)
        val b = buf(pos) & 0xFF
        pos += 1
        v |= (b & 0x7FL) << shift
        if ((b & 0x80) == 0) return v
        shift += 7
      }
      throw new IllegalArgumentException("malformed varint")
    }

    /** (field, wireType), or (0, -1) at end of slice. Field number 0 is
      * invalid on the wire (generated parsers reject it), so a zero tag
      * before the end is a malformed message, not an end marker. */
    def readTag(): (Int, Int) =
      if (!hasMore) (0, -1)
      else {
        val at = pos
        val t = readVarint()
        val field = (t >>> 3).toInt
        if (field == 0)
          throw new IllegalArgumentException(s"malformed message: field 0 at $at")
        (field, (t & 7).toInt)
      }

    /** Read every field to the end of the slice: `f` handles the
      * (field, wireType) pairs it matches and must consume their payload;
      * all others are skipped. */
    def fields(f: PartialFunction[(Int, Int), Unit]): Unit =
      while (hasMore) f.applyOrElse(readTag(), (t: (Int, Int)) => skip(t._2))

    def readFixed32(): Int = {
      need(4)
      var v = 0
      var i = 0
      while (i < 4) { v |= (buf(pos + i) & 0xFF) << (8 * i); i += 1 }
      pos += 4
      v
    }
    def readFixed64(): Long = {
      need(8)
      var v = 0L
      var i = 0
      while (i < 8) { v |= (buf(pos + i) & 0xFFL) << (8 * i); i += 1 }
      pos += 8
      v
    }
    def readFloat(): Float = java.lang.Float.intBitsToFloat(readFixed32())
    def readDouble(): Double = java.lang.Double.longBitsToDouble(readFixed64())

    /** Length-delimited payload as a sub-reader (nested message). */
    def readSlice(): R = {
      val len = readVarint().toInt
      need(len)
      val r = new R(buf, pos, pos + len)
      pos += len
      r
    }
    def readBytes(): Array[Byte] = {
      val len = readVarint().toInt
      need(len)
      val b = java.util.Arrays.copyOfRange(buf, pos, pos + len)
      pos += len
      b
    }
    def readString(): String =
      new String(readBytes(), StandardCharsets.UTF_8)

    /** Packed or unpacked repeated float field body (LEN wire type). */
    def readPackedFloats(): Array[Float] = {
      val s = readSlice()
      val out = scala.collection.mutable.ArrayBuffer.empty[Float]
      while (s.hasMore) out += s.readFloat()
      out.toArray
    }

    def skip(wireType: Int): Unit = wireType match {
      case WtVarint => readVarint(); ()
      case WtFixed64 => need(8); pos += 8
      case WtLen =>
        // two steps: `pos += readVarint()` reads the OLD pos before the
        // varint advances it, landing the skip short by the varint width
        val len = readVarint().toInt
        need(len)
        pos += len
      case WtFixed32 => need(4); pos += 4
      case other => throw new IllegalArgumentException(s"wire type $other")
    }
  }
}
