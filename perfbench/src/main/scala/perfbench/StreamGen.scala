package perfbench

/** Seeded event generator for `stream_serve` and the reference model built
  * from it. Pure Scala with no program code, so the load generator can
  * rebuild the same reference independently from the seed.
  *
  * Every entity gets a base event; further base events, all stream events
  * and all lookups pick entities from a Zipf law over a seeded permutation,
  * so hot keys spread over the store's buckets. Timestamps are distinct and
  * every stream timestamp is later than every base timestamp. A value is a
  * fixed function of its timestamp, so a served (value, ts) pair names the
  * event it came from.
  *
  * Where the parameters come from (README, "Sizing"): the entity count is
  * the user count of the harness `events` table at scale factor 1, which
  * holds 15,000 x sf users (15, 150 and 1,500 at sf0.001, sf0.01 and
  * sf0.1); that table's keys are near-uniform, so the Zipf exponent is
  * YCSB's default request skew, 0.99. The event volumes, the file count
  * and the lookup rate are sized to the run-time budget. */
final case class Spec(entities: Int, baseExtra: Int, files: Int,
                      perFile: Int, lookupsPerSecond: Int, warmLookups: Int)

object StreamGen {
  val Full = Spec(entities = 15000, baseExtra = 15000, files = 10,
    perFile = 15000, lookupsPerSecond = 10000, warmLookups = 10000)
  val Small = Spec(entities = 1500, baseExtra = 1500, files = 3,
    perFile = 500, lookupsPerSecond = 1000, warmLookups = 1000)

  val ZipfExponent = 0.99

  val T0: Long = 1600000000000L
  val StepMs = 10L

  def valueOf(tsMs: Long): Double =
    (java.lang.Long.hashCode(tsMs * 0x9E3779B97F4A7C15L) & 0xFFFFF) / 4.0

  /** Zipf ranks mapped through a seeded permutation of entity ids. */
  final class Zipf(n: Int, seed: Long) {
    private val cdf = {
      val w = Array.tabulate(n)(i => math.pow(i + 1.0, -ZipfExponent))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    private val perm = {
      val a = Array.range(0, n)
      val r = new scala.util.Random(seed ^ 0x5DEECE66DL)
      var i = n - 1
      while (i > 0) { val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1 }
      a
    }
    def sample(r: scala.util.Random): Long = {
      val u = r.nextDouble()
      var lo = 0
      var hi = n - 1
      while (lo < hi) { val mid = (lo + hi) >>> 1; if (cdf(mid) < u) lo = mid + 1 else hi = mid }
      perm(lo).toLong
    }
  }

  /** (entity, tsMs) pairs: the base events, then one array per stream file. */
  final case class Events(base: Array[(Long, Long)], files: Array[Array[(Long, Long)]])

  def generate(spec: Spec, seed: Long): Events = {
    val zipf = new Zipf(spec.entities, seed)
    val r = new scala.util.Random(seed)
    val baseEntities = Array.tabulate(spec.entities)(_.toLong) ++
      Array.fill(spec.baseExtra)(zipf.sample(r))
    val shuffled = r.shuffle(baseEntities.toSeq).toArray
    val base = shuffled.zipWithIndex.map { case (e, i) => (e, T0 + i * StepMs) }
    val streamT0 = T0 + base.length * StepMs + 1000L
    val files = Array.tabulate(spec.files) { f =>
      Array.tabulate(spec.perFile) { i =>
        (zipf.sample(r), streamT0 + (f.toLong * spec.perFile + i) * StepMs)
      }
    }
    Events(base, files)
  }

  /** The reference model: per entity, the latest timestamp after the base
    * load and after each file (one micro-batch per file), i.e. every value
    * the entity holds at a batch boundary. */
  final class Reference(ev: Events, entities: Int) {
    val baseTs: Array[Long] = Array.fill(entities)(Long.MinValue)
    ev.base.foreach { case (e, t) => if (t > baseTs(e.toInt)) baseTs(e.toInt) = t }
    val finalTs: Array[Long] = baseTs.clone()
    private val boundaries = Array.fill(entities)(List.empty[Long])
    ev.files.foreach { file =>
      file.foreach { case (e, t) => if (t > finalTs(e.toInt)) finalTs(e.toInt) = t }
      val touched = file.map(_._1.toInt).distinct
      touched.foreach(e => boundaries(e) = finalTs(e) :: boundaries(e))
    }
    private val baseMax = ev.base.iterator.map(_._2).max
    require(ev.files.forall(_.forall(_._2 > baseMax)),
      "stream timestamps must follow every base timestamp")
    def allowed(e: Int, ts: Long): Boolean =
      ts == baseTs(e) || boundaries(e).contains(ts)
  }
}
