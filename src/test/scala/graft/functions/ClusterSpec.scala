package graft.functions

import graft.SparkSpec

class ClusterSpec extends SparkSpec {
  import spark.implicits._

  private def clusters(pairs: Seq[(Long, Long)]): Map[Long, Long] =
    Dedup.closePairs(pairs.toDF("idA", "idB"))
      .as[(Long, Long)].collect().toMap

  test("chain, triangle, and isolated pair resolve to component minima") {
    // chain 1-2-3-4 (diameter > 1),
    // triangle 10-11-12 with redundant edges, isolated pair 20-21
    val out = clusters(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)))
    assert(out == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("long chain converges (min must travel the whole diameter)") {
    val chain = (0L until 12L).map(i => (i, i + 1))
    val out = clusters(chain)
    assert(out.size == 13)
    assert(out.values.forall(_ == 0L))
  }

  test("canonical keeper per cluster is a plain filter") {
    val out = Dedup.closePairs(Seq((5L, 3L), (3L, 9L)).toDF("idA", "idB"))
    val keepers = out.where("doc_id = cluster_id")
      .as[(Long, Long)].collect().toSeq
    assert(keepers == Seq((3L, 3L)))
  }

  test("incremental closure over compressed history equals full recompute") {
    val oldPairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L))
    val newPairs = Seq(
      (3L, 10L),   // merges cluster {1,2,3} with {10,11}
      (30L, 31L),  // brand-new cluster, both ids unseen
      (21L, 40L))  // extends {20,21} with a new node
    val labels = Dedup.closePairs(oldPairs.toDF("idA", "idB"))
    val incr = Dedup.closePairs(newPairs.toDF("idA", "idB"),
        prior = Some(labels))
      .as[(Long, Long)].collect().toMap
    val full = Dedup.closePairs((oldPairs ++ newPairs).toDF("idA", "idB"))
      .as[(Long, Long)].collect().toMap
    assert(incr == full)
    assert(incr(11L) == 1L && incr(30L) == 30L && incr(40L) == 20L)
  }

  test("dense cliques, a 30-chain and a clique+chain hybrid close to minima") {
    // dense: two 6-cliques
    val clique = (base: Long) => for {
      i <- 0L until 6L; j <- (i + 1) until 6L
    } yield (base + i, base + j)
    val dense = (clique(0L) ++ clique(100L)).toDF("idA", "idB")
    val denseOut = Dedup.closePairs(dense)
      .as[(Long, Long)].collect().toMap
    assert(denseOut == ((0L until 6L).map(_ -> 0L) ++
      (100L until 106L).map(_ -> 100L)).toMap)
    // sparse: one long chain, whose round count is O(log n) instead of
    // the 30-hop diameter
    val chain = (0L until 30L).map(i => (i, i + 1)).toDF("idA", "idB")
    val chainOut = Dedup.closePairs(chain)
      .as[(Long, Long)].collect().toMap
    assert(chainOut.size == 31 && chainOut.values.forall(_ == 0L))
    // a dense head welded to a diameter-scale tail must close within
    // maxIter = 8 — the true closure, never unconverged labels
    val hybrid = (clique(0L) ++ clique(100L) ++ clique(200L) ++
      clique(300L) ++ clique(400L) ++ clique(500L) ++
      (1000L until 1030L).map(i => (i, i + 1)) :+ (5L -> 1000L))
      .toDF("idA", "idB")
    val hybridOut = Dedup.closePairs(hybrid, maxIter = 8)
      .as[(Long, Long)].collect().toMap
    assert((1000L to 1030L).forall(hybridOut(_) == 0L))
    assert(hybridOut(505L) == 500L)
  }
}
