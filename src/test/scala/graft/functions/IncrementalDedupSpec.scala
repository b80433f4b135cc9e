package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incremental dedup must report exactly the full-corpus pairs that touch
  * the new batch — reusing stored signatures changes nothing. The Hamming
  * cases run on the sf0.001 corpus simhashes with the batch split
  * `doc_id % 5 == 4`, and compare sorted sequences so a duplicated output
  * row shows. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  test("incremental == full restricted to batch-touching pairs") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base), (2L, base + " x"),            // old-old dup pair
      (3L, "completely different content about spark execution plans"),
      (10L, base + " y"),                        // new, dups 1 and 2
      (11L, "completely different content about spark execution plans ok"),
      (12L, "nothing like anything else in this tiny corpus at all"))
      .toDF("doc_id", "text")
    val isNew = col("doc_id") >= 10L
    val corpusSigs = Dedup.minhashSignatureTable(docs.filter(!isNew), "text", "doc_id")
    val inc = Dedup.minhashNearDupsIncremental(corpusSigs, docs,
        docs.filter(isNew), "text", "doc_id", threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val full = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val expected = full.filter { case (a, b) => a >= 10L || b >= 10L }
    assert(inc == expected)
    assert(inc.contains((1L, 10L)) && inc.contains((2L, 10L)))
    assert(inc.contains((3L, 11L)))
    assert(!inc.contains((1L, 2L))) // old-old pair stays unreported
  }

  private def hashed = spark.read.parquet(s"$sf001/documents.parquet")
    .select(col("doc_id"), Dedup.simhash64(col("text")).as("h"))

  private val isNewHash = col("doc_id") % 5 === 4

  private def hammingRows(df: DataFrame): Seq[(Long, Long, Long)] =
    df.select("idA", "idB", "hamming").as[(Long, Long, Long)]
      .collect().toSeq.sorted

  private def touchingBatch(full: Seq[(Long, Long, Long)]) =
    full.filter { case (a, b, _) => a % 5 == 4 || b % 5 == 4 }

  test("hammingNearDupsIncremental == hammingNearDups restricted to " +
      "batch-touching pairs") {
    val expected = touchingBatch(hammingRows(
      Dedup.hammingNearDups(hashed, "doc_id", "h", maxHamming = 6)))
    assert(expected.nonEmpty, "fixture must produce pairs")
    val inc = hammingRows(Dedup.hammingNearDupsIncremental(
      hashed.filter(!isNewHash), hashed.filter(isNewHash), "doc_id", "h",
      maxHamming = 6))
    assert(inc == expected)
  }

  test("hammingNearDupsIncrementalBounded == hammingNearDupsBounded " +
      "restricted to batch-touching pairs") {
    val expected = touchingBatch(hammingRows(
      Dedup.hammingNearDupsBounded(hashed, "doc_id", "h")))
    assert(expected.nonEmpty, "fixture must produce pairs")
    val inc = hammingRows(Dedup.hammingNearDupsIncrementalBounded(
      hashed.filter(!isNewHash), hashed.filter(isNewHash), "doc_id", "h"))
    assert(inc == expected)
  }
}
