package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: the row count plus the
  * wrapping 64-bit sum of a hash of each row's canonical text. Doubles and
  * floats are written with 10 and 7 significant digits, so the last bits of
  * a parallel sum cannot change the digest; map entries are sorted.
  *
  * It is computed inside the job of the query's final action
  * (`queryExecution.toRdd`), so checking a result costs no second run of
  * the query. */
object Digest {
  final case class Value(rows: Long, hash: Long) {
    def json: String = s"""{"rows":$rows,"hash":"$hash"}"""
  }

  private def num(d: Double, digits: Int): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "Inf" else "-Inf")
    else if (d == 0.0) "0"
    else s"%.${digits}e".format(d)

  private def canon(v: Any, dt: DataType, b: StringBuilder): Unit =
    if (v == null) b.append("null")
    else dt match {
      case DoubleType => b.append(num(v.asInstanceOf[Double], 9))
      case FloatType => b.append(num(v.asInstanceOf[Float].toDouble, 6))
      case BinaryType =>
        v.asInstanceOf[Array[Byte]].foreach(x => b.append(f"${x & 0xff}%02x"))
      case st: StructType => row(v.asInstanceOf[InternalRow], st, b)
      case ArrayType(et, _) =>
        val a = v.asInstanceOf[ArrayData]
        b.append('[')
        var i = 0
        while (i < a.numElements()) {
          if (i > 0) b.append(',')
          canon(if (a.isNullAt(i)) null else a.get(i, et), et, b)
          i += 1
        }
        b.append(']')
      case MapType(kt, vt, _) =>
        val m = v.asInstanceOf[MapData]
        val (ks, vs) = (m.keyArray(), m.valueArray())
        val entries = (0 until m.numElements()).map { i =>
          val e = new StringBuilder
          canon(ks.get(i, kt), kt, e)
          e.append(':')
          canon(if (vs.isNullAt(i)) null else vs.get(i, vt), vt, e)
          e.toString
        }.sorted
        b.append(entries.mkString("{", ",", "}"))
      case _ => b.append(v.toString)
    }

  private def row(r: InternalRow, st: StructType, b: StringBuilder): Unit = {
    b.append('(')
    var i = 0
    while (i < st.length) {
      if (i > 0) b.append(',')
      val dt = st.fields(i).dataType
      canon(if (r.isNullAt(i)) null else r.get(i, dt), dt, b)
      i += 1
    }
    b.append(')')
  }

  private def hash(s: String): Long =
    (MurmurHash3.stringHash(s, 0x3c6ef372).toLong << 32) ^
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)

  /** Run the query's final action and digest its rows in the same job. */
  def of(df: DataFrame): Value = {
    val st = df.schema
    val parts = df.queryExecution.toRdd.mapPartitions { it =>
      var n = 0L
      var h = 0L
      val b = new StringBuilder
      it.foreach { r =>
        b.setLength(0)
        row(r, st, b)
        h += hash(b.toString)
        n += 1
      }
      Iterator.single((n, h))
    }.collect()
    Value(parts.map(_._1).sum, parts.map(_._2).sum)
  }
}
