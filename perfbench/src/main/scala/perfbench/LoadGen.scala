package perfbench

import java.io.{BufferedInputStream, BufferedOutputStream, BufferedReader, InputStreamReader}
import java.net.Socket
import java.nio.charset.StandardCharsets.US_ASCII

/** The `stream_serve` load generator: a separate process that reads
  * `/features` over keep-alive connections in a closed loop (each client
  * sends its next request when the previous reply has arrived) and checks
  * every reply against the reference model it rebuilds from the seed.
  *
  *   perfbench.LoadGen <port> <seed> <full|small> <connections> <spanFile|->
  *
  * Commands arrive one per line on stdin; each answer is one line on
  * stdout:
  *   read N R -> "read wallNs n bad p50Us p99Us meanUs";
  *              R = 1 records request spans
  *   ingest  -> starts reading until "stop", then
  *              "ingest wallNs n bad p50Us p99Us meanUs"
  *   final   -> "final n bad": every entity must serve its final value
  *   quit    -> writes the request spans and exits
  * A reply that is not 200 or holds a wrong value is counted bad, and its
  * latency counts as beyond every percentile: a percentile that falls on
  * it reads `Failed`. */
object LoadGen {
  /** The latency recorded for a failed lookup, in ns: longer than any run. */
  val Failed: Long = 1000L * 1000 * 1000 * 1000
  final class Conn(port: Int) {
    private val sock = new Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
    private val out = new BufferedOutputStream(sock.getOutputStream, 1 << 12)

    private def line(): String = {
      val b = new StringBuilder
      var c = in.read()
      while (c != '\n' && c >= 0) { if (c != '\r') b.append(c.toChar); c = in.read() }
      if (c < 0) throw new java.io.EOFException("connection closed")
      b.toString
    }

    /** (status, body) of one GET on this keep-alive connection. */
    def get(path: String): (Int, String) = {
      out.write(s"GET $path HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(US_ASCII))
      out.flush()
      val status = line().split(' ')(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line()
      }
      val body = in.readNBytes(len)
      (status, new String(body, US_ASCII))
    }
    def close(): Unit = sock.close()
  }

  /** The (value, ts) pair of a `/features` reply for one feature, if any. */
  def parse(body: String): Option[(Double, Long)] = {
    val i = body.indexOf("\"values\":[[")
    if (i < 0) None
    else {
      val s = i + 11
      val comma = body.indexOf(',', s)
      val end = body.indexOf(']', comma)
      Some((body.substring(s, comma).toDouble, body.substring(comma + 1, end).toLong))
    }
  }

  final class Samples {
    private var ns = new Array[Long](1 << 16)
    var n = 0
    var bad = 0L
    val spans = new scala.collection.mutable.ArrayBuilder.ofLong
    def add(d: Long, ok: Boolean): Unit = {
      if (n == ns.length) ns = java.util.Arrays.copyOf(ns, n * 2)
      ns(n) = if (ok) d else Failed
      n += 1
      if (!ok) bad += 1
    }
    def values: Array[Long] = java.util.Arrays.copyOf(ns, n)
  }

  def main(args: Array[String]): Unit = {
    val port = args(0).toInt
    val seed = args(1).toLong
    val spec = if (args(2) == "small") StreamGen.Small else StreamGen.Full
    val nConn = args(3).toInt
    val spanFile = args(4)
    val traced = spanFile != "-"
    val ref = new StreamGen.Reference(StreamGen.generate(spec, seed), spec.entities)
    val zipf = new StreamGen.Zipf(spec.entities, seed)
    val conns = Array.fill(nConn)(new Conn(port))
    val spanLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stdin = new BufferedReader(new InputStreamReader(System.in, US_ASCII))
    @volatile var stop = false

    def lookup(c: Conn, e: Long): (Int, Option[(Double, Long)]) = {
      val (code, body) = c.get(s"/features?names=latest&entity=$e")
      (code, if (code == 200) parse(body) else None)
    }
    def valid(v: Option[(Double, Long)], ok: Long => Boolean): Boolean =
      v.exists { case (x, t) => ok(t) && x == StreamGen.valueOf(t) }

    /** Closed loop on every connection; `count` lookups each, or until
      * `stop` when count < 0. */
    def loop(phase: String, count: Int, ok: (Int, Long) => Boolean,
             seedOffset: Int, record: Boolean): Seq[Samples] = {
      val threads = conns.indices.map { ci =>
        val s = new Samples
        val t = new Thread(() => {
          val r = new scala.util.Random(seed * 7919L + seedOffset * 31 + ci)
          var i = 0
          while ((count >= 0 && i < count) || (count < 0 && !stop)) {
            val e = zipf.sample(r)
            val t0 = System.nanoTime()
            val s0 = if (record) Clock.nowUs() else 0L
            val good =
              try {
                val (code, v) = lookup(conns(ci), e)
                code == 200 && valid(v, ts => ok(e.toInt, ts))
              } catch { case scala.util.control.NonFatal(_) => false }
            s.add(System.nanoTime() - t0, good)
            if (record) { s.spans.addOne(s0); s.spans.addOne(Clock.nowUs()) }
            i += 1
          }
        })
        t.start()
        (t, s)
      }
      threads.foreach(_._1.join())
      if (record) threads.foreach { case (_, s) =>
        val a = s.spans.result()
        var i = 0
        while (i < a.length) { spanLines.add(s"$phase ${a(i)} ${a(i + 1)}"); i += 2 }
      }
      threads.map(_._2)
    }

    def summary(tag: String, wallNs: Long, ss: Seq[Samples]): String = {
      val all = ss.flatMap(_.values).toArray
      java.util.Arrays.sort(all)
      val good = all.filter(_ != Failed)
      def pctUs(p: Double) = Stats.pct(all.map(_.toDouble), p) / 1000.0
      s"$tag $wallNs ${all.length} ${ss.map(_.bad).sum} ${pctUs(0.50)} " +
        s"${pctUs(0.99)} ${Stats.mean(good.map(_ / 1000.0).toSeq)}"
    }

    // warm-up against the quiet store: JIT on both sides, bucket caches filled
    val warm = loop("warm", spec.warmLookups / nConn,
      (e, t) => t == ref.baseTs(e), 0, record = false)
    println(s"ready ${warm.map(_.bad).sum}")
    System.out.flush()
    var cmd = stdin.readLine()
    while (cmd != null && cmd != "quit") {
      cmd.split(' ').toSeq match {
        case Seq("read", n, rec) =>
          val t0 = System.nanoTime()
          val ss = loop("read", n.toInt / nConn, (e, t) => t == ref.baseTs(e),
            1 + rec.toInt, record = traced && rec == "1")
          println(summary("read", System.nanoTime() - t0, ss))
        case Seq("ingest") =>
          stop = false
          var res: Seq[Samples] = Nil
          val t0 = System.nanoTime()
          val runner = new Thread(() =>
            res = loop("ingest", -1, ref.allowed, 3, record = traced))
          runner.start()
          stdin.readLine() // "stop"
          stop = true
          runner.join()
          println(summary("ingest", System.nanoTime() - t0, res))
        case Seq("final") =>
          val bad = new java.util.concurrent.atomic.AtomicLong(0L)
          val ts = conns.indices.map { ci =>
            val t = new Thread(() => {
              var e = ci
              while (e < spec.entities) {
                val (code, v) = lookup(conns(ci), e.toLong)
                val want = ref.finalTs(e)
                if (code != 200 || !valid(v, _ == want)) bad.incrementAndGet()
                e += nConn
              }
            })
            t.start(); t
          }
          ts.foreach(_.join())
          println(s"final ${spec.entities} ${bad.get}")
        case other => sys.error(s"unknown command $other")
      }
      System.out.flush()
      cmd = stdin.readLine()
    }
    conns.foreach(_.close())
    if (traced) {
      val w = new java.io.PrintWriter(spanFile, "UTF-8")
      try spanLines.forEach(l => w.println(l)) finally w.close()
    }
  }
}
