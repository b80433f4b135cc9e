package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming near-dup detection ≡ batch all-pairs at the pigeonhole
  * threshold, across micro-batch boundaries; bucket cap observable. */
class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog today"),
    (2L, "the quick brown fox jumps over the lazy dog today"),  // dup of 1
    (3L, "completely different content about spark streaming state"),
    (4L, "the quick brown fox jumps over the lazy dog tonight"), // near 1/2
    (5L, "another unrelated document mentioning catalyst optimizer"),
    (6L, "completely different content about spark streaming state")) // dup of 3

  private def batchAllPairs(maxHamming: Int) = {
    val sims = docs.toDF("doc_id", "text")
      .select(col("doc_id"), graft.functions.Dedup.simhash64(col("text")).as("h"))
    sims.as("a").join(sims.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("idA"), col("b.doc_id").as("idB"),
        bit_count(col("a.h").bitwiseXOR(col("b.h"))).cast("long").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .as[(Long, Long, Long)].collect().toSet
  }

  test("streamed pairs equal batch all-pairs Hamming<=3 across micro-batches") {
    val tmp = graft.TempDirs.create("sdedup").toString
    // one file per doc (flat appends) -> maxFilesPerTrigger=2 forces
    // multiple micro-batches, so matches must span batch boundaries
    // through state
    docs.foreach { case (id, txt) =>
      Seq((id, txt)).toDF("doc_id", "text").repartition(1)
        .write.mode("append").parquet(s"$tmp/in")
    }
    val got = StreamingDedup.runFileStream(spark, StreamRun.Written(s"$tmp/in"),
        maxFilesPerTrigger = 2)
      .as[(Long, Long, Long)].collect().toSet
    val want = batchAllPairs(3)
    assert(want.nonEmpty, "fixture must contain near-dups")
    assert(want.exists(_._3 == 0L), "fixture must contain an exact dup")
    assert(got == want)
    assert(StreamingDedup.lastDropsAcc.value == 0L)
  }

  test("bucket cap stops accumulation and counts drops") {
    val tmp = graft.TempDirs.create("sdedup_cap").toString
    // ten identical docs: every quarter-band bucket gets all ten
    (1L to 10L).map(i => (i, "same text in every single document here"))
      .toDF("doc_id", "text").repartition(1).write.parquet(s"$tmp/in")
    val got = StreamingDedup.runFileStream(spark, StreamRun.Written(s"$tmp/in"),
      maxPerBucket = 3)
    // arrivals into the full bucket are dropped ENTIRELY (the batch
    // hot-key rule): only the first 3 members pair up — C(3,2) distinct
    // pairs — and every later arrival counts as a drop in all 4 buckets
    assert(got.count() == 3L)
    assert(StreamingDedup.lastDropsAcc.value == 7L * 4)
  }
}
