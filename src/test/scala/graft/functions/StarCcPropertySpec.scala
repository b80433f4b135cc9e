package graft.functions

import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSpec

/** Dedup.closePairs vs a driver-side union-find on random graphs:
  * identical (node → component-min) assignments for every edge-list
  * shape ScalaCheck produces — sparse/dense, chains, stars, multigraph
  * duplicates, reversed pairs. Inputs are spread over 4 partitions, so the
  * per-partition union-find leaves cross-partition merges to the star
  * contraction. */
class StarCcPropertySpec extends SparkSpec {
  import spark.implicits._

  private type Edges = List[(Long, Long)]

  private val genEdges: Gen[Edges] =
    Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, for {
      a <- Gen.choose(0L, 30L)
      b <- Gen.choose(0L, 30L)
    } yield (a, b)))

  /** Driver union-find with component-min roots. */
  private def want(es: Edges): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { val lo = math.min(ra, rb); val hi = math.max(ra, rb)
        parent(hi) = lo }
    }
    val clean = es.filter(e => e._1 != e._2)
    clean.foreach { case (a, b) => union(a, b) }
    clean.flatMap(e => Seq(e._1, e._2)).distinct
      .map(v => v -> find(v)).toMap
  }

  test("equals driver union-find on random graphs") {
    val prop = Prop.forAll(genEdges) { es: Edges =>
      val expected = want(es)
      if (expected.isEmpty) true // only self-loops: operator returns empty
      else {
        val got = Dedup.closePairs(es.toDF("idA", "idB").repartition(4))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        got == expected
      }
    }
    // 4 workers: the per-case cost is Spark job-launch latency on a tiny
    // graph (the iterative contraction runs ~15 near-empty jobs per case),
    // so independent cases overlap nearly perfectly — same 25 successful
    // cases, same property, ~4x less wall (this spec was 281 s of a
    // 1044 s suite before; the driver's test budget cut the r14 run off)
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25).withWorkers(4), prop)
    assert(res.passed, res.status.toString)
  }

  test("incremental closure over any old/new edge split equals full recompute") {
    // split each random edge list at a random point: close the prefix,
    // fold the suffix in incrementally — must equal closing everything
    val genSplit = for {
      es <- genEdges
      cut <- Gen.choose(0, es.length)
    } yield (es, cut)
    val prop = Prop.forAll(genSplit) { case (es: Edges, cut: Int) =>
      val expected = want(es)
      if (expected.isEmpty) true
      else {
        val (oldEs, newEs) = es.splitAt(cut)
        val labels = Dedup.closePairs(oldEs.toDF("idA", "idB").repartition(4))
        val got = Dedup.closePairs(newEs.toDF("idA", "idB").repartition(4),
            prior = Some(labels))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // the incremental output also covers nodes that ONLY appear in
        // self-loop edges (docs no edge touches keep themselves); project to
        // the union-find domain for the comparison
        got.view.filterKeys(expected.contains).toMap == expected
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25).withWorkers(4), prop)
    assert(res.passed, res.status.toString)
  }
}
