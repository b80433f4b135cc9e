package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}
import graft.SparkSpec

/** The driver gate of `Dedup.closePairs`, lowered through the private
  * argument: at or under the gate a graph closes on the driver (0
  * rounds), one edge row past it runs the star loop, both paths give
  * the same labels, and past the gate the inputs' lineage runs once. */
class ClosureGateSpec extends SparkSpec {
  import spark.implicits._

  private def close(es: Seq[(Long, Long)], gate: Int,
                    prior: Option[DataFrame] = None): (Map[Long, Long], Int) = {
    val out = Dedup.closePairsImpl(es.toDF("idA", "idB"), prior, 25, false,
      gate).as[(Long, Long)].collect().toMap
    (out, Dedup.lastClusterRounds)
  }

  // a 4-edge chain, a triangle and an isolated pair: 8 edge rows
  private val graph = Seq((4L, 3L), (3L, 2L), (2L, 1L), (1L, 0L),
    (10L, 11L), (11L, 12L), (12L, 10L), (21L, 20L))
  private val want = ((0L to 4L).map(_ -> 0L) ++
    (10L to 12L).map(_ -> 10L) ++ Seq(20L -> 20L, 21L -> 20L)).toMap

  test("a graph of N edge rows closes on the driver") {
    val (out, rounds) = close(graph, gate = graph.size)
    assert(rounds == 0)
    assert(out == want)
  }

  test("N + 1 edge rows run the star loop and give identical labels") {
    val (out, rounds) = close(graph, gate = graph.size - 1)
    assert(rounds > 0)
    assert(out == want)
  }

  test("prior mode: self-loop docs and untouched prior docs agree on both paths") {
    // {1,2,3} and the singleton 7 are untouched; 11 gains 20; 50 is seen
    // only on a self-loop; 60-61 is new
    val prior = Seq((1L, 1L), (2L, 1L), (3L, 1L), (7L, 7L),
      (10L, 10L), (11L, 10L)).toDF("doc_id", "cluster_id")
    val pairs = Seq((11L, 20L), (50L, 50L), (61L, 60L))
    val rows = 6 + pairs.size
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 10L -> 10L,
      11L -> 10L, 20L -> 10L, 50L -> 50L, 60L -> 60L, 61L -> 60L)
    val (onDriver, r0) = close(pairs, gate = rows, prior = Some(prior))
    assert(r0 == 0)
    assert(onDriver == expected)
    val (onStar, r1) = close(pairs, gate = rows - 1, prior = Some(prior))
    assert(r1 > 0)
    assert(onStar == expected)
  }

  test("past the gate each input's lineage runs once") {
    // every evaluation of an input row ticks `seen`; the RDD source and
    // the shuffle keep the rows out of any local relation
    val seen = spark.sparkContext.longAccumulator("closure input rows")
    val tick = udf { (x: Long) => seen.add(1); x }.asNondeterministic()
    def counted(rows: Seq[(Long, Long)], a: String, b: String): DataFrame =
      spark.sparkContext.parallelize(rows, 2).toDF(a, b)
        .select(tick(col(a)).as(a), col(b)).repartition(3)
    val prior = counted(Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L)),
      "doc_id", "cluster_id")
    val pairs = counted(Seq((2L, 3L), (11L, 20L), (61L, 60L)), "idA", "idB")
    val out = Dedup.closePairsImpl(pairs, Some(prior), 25, false, 6)
    assert(Dedup.lastClusterRounds > 0)
    assert(out.as[(Long, Long)].collect().toMap == Map(1L -> 1L, 2L -> 1L,
      3L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 10L, 60L -> 60L, 61L -> 60L))
    out.collect()
    assert(seen.value == 7L)
  }
}
