package graft.functions

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.functions.Dedup

/** Weighted PageRank: closed-form fixed points, a driver-side exact replay
  * of the pinned-decimal recurrence, and partitioning independence. */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  /** The operator's arithmetic, replayed exactly: round-to-12dp pins via
    * BigDecimal.valueOf (Spark's own round path), decimal sums. */
  private def replay(edges: Seq[(Int, Int, Long)],
                     iters: Int): Map[Int, Double] = {
    def pin(x: Double): BigDecimal =
      BigDecimal(java.math.BigDecimal.valueOf(x))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)
    val e = edges.groupBy(x => (x._1, x._2))
      .map { case ((s, d), xs) => (s, d, xs.map(_._3).sum) }.toSeq
    val ow = e.groupBy(_._1).map { case (s, xs) => s -> xs.map(_._3).sum }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val n = nodes.size
    var r = nodes.map(v => v -> pin(1.0 / n)).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).map { case (d, xs) =>
        d -> xs.map { case (s, _, w) =>
          pin(r(s).toDouble * w / ow(s)) }.sum
      }
      r = nodes.map(v => v -> pin((1.0 - 0.85) / n +
        0.85 * in.getOrElse(v, BigDecimal(0)).toDouble)).toMap
    }
    r.map { case (k, v) => k -> v.toDouble }
  }

  test("symmetric 2-cycle stays uniform") {
    val edges = Seq((1, 2, 1L), (2, 1, 1L)).toDF("s", "d", "w")
    val out = Graph.pageRank(edges, "s", "d", "w", iters = 3)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out === Map(1 -> 0.5, 2 -> 0.5))
  }

  test("agrees with the driver-side exact replay on a weighted digraph") {
    val es = Seq((1, 2, 3L), (1, 3, 1L), (2, 3, 2L), (3, 1, 5L),
      (2, 1, 1L), (4, 1, 2L)) // 4 is a source; no edges INTO 4
    val out = Graph.pageRank(es.toDF("s", "d", "w"), "s", "d", "w", 3)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out === replay(es, 3))
  }

  test("partitioning-independent (decimal-pinned contributions)") {
    val es = Seq((1, 2, 3L), (1, 3, 1L), (2, 3, 2L), (3, 1, 5L),
      (2, 1, 1L), (4, 2, 7L), (4, 3, 7L))
    val df1 = es.toDF("s", "d", "w").repartition(1)
    val df7 = es.toDF("s", "d", "w").repartition(7)
    val a = Graph.pageRank(df1, "s", "d", "w", 2)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val b = Graph.pageRank(df7, "s", "d", "w", 2)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(a === b)
  }

  test("triangles: K4 has four, each vertex in three; path graphs have none") {
    // K4 on {1,2,3,4}
    val k4 = (for { a <- 1 to 4; b <- 1 to 4 if a < b } yield (a.toLong, b.toLong))
      .toDF("a", "b")
    val out = Graph.triangleCounts(k4, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // a path 1-2-3-4 has no triangle → empty result
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
    assert(Graph.triangleCounts(path, "a", "b").count() == 0)
  }

  test("triangles: bloom-prefiltered unhinted path equals the broadcast path") {
    // random-ish multigraph: the same counts must come out of the
    // broadcast-hint plan, the plain unhinted plan, and the unhinted plan
    // with the wedge Bloom pre-filter (false positives are re-checked by
    // the exact closing semi-join, so the filter may never change results)
    val es = (for { a <- 1L to 12L; b <- 1L to 12L
      if a != b && (a * 31 + b) % 3 != 0 } yield (a, b)).toDF("a", "b")
    val hinted = Graph.triangleCounts(es, "a", "b",
        maxBroadcastEdges = Long.MaxValue)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = Graph.triangleCounts(es, "a", "b", maxBroadcastEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloomed = Graph.triangleCounts(es, "a", "b",
        maxBroadcastEdges = 0L, expectedEdges = 200L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hinted.nonEmpty && bloomed == hinted && plain == hinted)
  }

  test("triangles: duplicate/reversed edges and self-loops are cleaned; hub wedge bound") {
    // triangle {1,2,3} written redundantly + self loop + hub 9 (star, no closure)
    val e = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 3L), (4L, 4L),
      (9L, 1L), (9L, 2L), (9L, 5L), (9L, 6L)).toDF("a", "b")
    val out = Graph.triangleCounts(e, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // {1,2,3} is one triangle; 9's star closes 9-1-2 into a second one
    assert(out == Map(1L -> 2L, 2L -> 2L, 3L -> 1L, 9L -> 1L))
  }

  test("linkPrediction: 4-cycle predicts the two diagonals, edges excluded") {
    val e = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L)).toDF("a", "b")
    val out = Graph.linkPrediction(e, "a", "b", k = 10, maxDeg = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    // diagonals (1,3) and (2,4) share two deg-2 neighbors:
    // aa = 2 * round(1/ln 2, 9) = 2.885390082
    assert(out.keySet === Set((1L, 3L), (2L, 4L)))
    out.values.foreach { case (cn, aa) =>
      assert(cn === 2L); assert(aa === 2.885390082)
    }
  }

  test("linkPrediction: existing edges never appear; rare neighbor " +
    "outscores none") {
    // triangle 1-2-3 plus pendant 3-4: (1,2) is an edge (excluded);
    // (1,4)/(2,4) share deg-3 center 3
    val e = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L)).toDF("a", "b")
    val out = Graph.linkPrediction(e, "a", "b", k = 10, maxDeg = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3))
      .toMap
    assert(out.keySet === Set((1L, 4L), (2L, 4L)))
    out.values.foreach(aa => assert(aa === 0.910239227)) // round(1/ln3, 9)
  }

  test("linkPrediction: hub centers above maxDeg are dropped (cap rule)") {
    val star = (1L to 5L).map(l => (0L, l)).toDF("a", "b")
    assert(Graph.linkPrediction(star, "a", "b", k = 10, maxDeg = 4)
      .count() === 0L)
    // with the cap lifted the star yields all 10 leaf pairs
    assert(Graph.linkPrediction(star, "a", "b", k = 100, maxDeg = 10)
      .count() === 10L)
  }

  test("star-contraction CC: long chain resolves in O(log n) rounds") {
    // a 200-node path has diameter 199 — label propagation's round count;
    // Dedup.closePairs must land the single component well under maxIter,
    // also when the partitions leave the whole path to the star loop
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("idA", "idB")
      .repartition(8)
    val out = Dedup.closePairs(chain, maxIter = 12)
    val comps = out.select("cluster_id").distinct()
      .collect().map(_.getLong(0)).toSeq
    assert(comps == Seq(0L))
    assert(out.count() == 200L)
    // two disjoint edges stay two components; self-loops are cleaned
    val two = Seq((1L, 2L), (3L, 4L), (5L, 5L)).toDF("idA", "idB")
    val got = Dedup.closePairs(two)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 3L))
  }

  test("dangling sink keeps a rank row; pure source decays to base") {
    // 1 -> 2 only: 2 is dangling (drops its mass), 1 gets no inflow
    val out = Graph.pageRank(Seq((1, 2, 1L)).toDF("s", "d", "w"),
        "s", "d", "w", iters = 2)
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(out.keySet === Set(1, 2))
    val base = 0.15000000000000002 / 2 // lit(1.0 - 0.85) / n, pinned
    assert(math.abs(out(1) - BigDecimal(java.math.BigDecimal.valueOf(base))
      .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-15)
    assert(out(2) > out(1)) // sink still receives 1's mass
  }
}
