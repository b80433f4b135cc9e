package graft.functions

import org.apache.spark.sql.DataFrame
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.SparkSpec

/** Dedup.closePairs vs a reference union-find on random graphs:
  * identical (node → component-min) assignments for every edge-list
  * shape ScalaCheck produces — sparse/dense, chains, stars, multigraph
  * duplicates, reversed pairs — on both paths: the driver close these
  * small graphs take by default, and the star loop with the gate forced
  * to 0. Inputs are spread over 4 partitions, so on the star path the
  * per-partition union-find leaves cross-partition merges to the star
  * contraction. */
class StarCcPropertySpec extends SparkSpec {
  import spark.implicits._

  private type Edges = List[(Long, Long)]

  /** Both gates: the default (driver) and 0 (star loop). */
  private val gates = Seq(Dedup.DriverEdges, 0)

  private def close(es: Edges, prior: Option[DataFrame],
                    gate: Int): DataFrame =
    Dedup.closePairsImpl(es.toDF("idA", "idB").repartition(4), prior, 25,
      false, gate)

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

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
      else gates.forall(g => labels(close(es, None, g)) == expected)
    }
    // 4 workers: the per-case cost is Spark job-launch latency on a tiny
    // graph (the star path runs a checkpoint, a checksum and one or more
    // rounds of near-empty jobs per case), so independent cases overlap
    // nearly perfectly — same 25 successful cases, same property, ~4x
    // less wall
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
        gates.forall { g =>
          val got = labels(close(newEs, Some(close(oldEs, None, g)), g))
          // the incremental output also covers nodes that ONLY appear in
          // self-loop edges (docs no edge touches keep themselves); project
          // to the union-find domain for the comparison
          got.view.filterKeys(expected.contains).toMap == expected
        }
      }
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25).withWorkers(4), prop)
    assert(res.passed, res.status.toString)
  }
}
