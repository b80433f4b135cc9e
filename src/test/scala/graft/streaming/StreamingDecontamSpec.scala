package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Streaming ingest-time decontamination ≡ the batch Bloom screen across
  * micro-batch boundaries, statelessness asserted, one-sidedness kept
  * (every exactly-contaminated doc flagged). */
class StreamingDecontamSpec extends SparkSpec {
  import spark.implicits._

  // eight-word overlap with the eval docs for ids 1 and 4; 3 and 5 clean
  private def corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (3L, "totally clean document with no overlap whatsoever in words here"),
    (4L, "prefix words then alpha beta gamma delta epsilon zeta eta theta"),
    (5L, "another clean document speaking only of spark catalyst tungsten"))
  private def eval = Seq(
    (100L, "alpha beta gamma delta epsilon zeta eta theta"),
    (101L, "benchmark question about nothing in the corpus at all ok"))

  test("streamed flags equal the batch Bloom screen across micro-batches") {
    val tmp = graft.TempDirs.create("sdecon").toString
    // one file per doc -> maxFilesPerTrigger=1 forces 4 micro-batches
    corpus.toDF("doc_id", "text").repartition(4)
      .write.parquet(s"$tmp/in")
    val streamed = StreamingDecontam.runFileStream(
        spark, StreamRun.Written(s"$tmp/in"), eval.toDF("doc_id", "text"),
        n = 8, numProbes = 5, mBits = 1 << 16, maxFilesPerTrigger = 1)
      .as[(Long, Long)].collect().toSet
    val batch = StreamingDecontam.flaggedStream(
        corpus.toDF("doc_id", "text"), "text", "doc_id",
        graft.functions.Decontam.bloomFilter(
          eval.toDF("doc_id", "text"), "text", 8, 5, 1 << 16),
        8, 5, 1 << 16)
      .as[(Long, Long)].collect().toSet
    assert(streamed == batch)
    // one-sided: every exactly-contaminated doc is flagged
    val exact = graft.functions.Decontam.contaminated(
        corpus.toDF("doc_id", "text"), eval.toDF("doc_id", "text"),
        "text", "doc_id", n = 8)
      .as[(Long, Long)].collect().toMap
    assert(exact.keySet.subsetOf(streamed.map(_._1)))
    assert(exact.contains(1L) && exact.contains(4L))
    // and the clean docs carry no exact hits even if bloom-flagged
    streamed.foreach { case (id, nb) =>
      assert(nb >= exact.getOrElse(id, 0L), s"doc $id") }
  }

  test("empty corpus and empty eval are both safe") {
    val tmp = graft.TempDirs.create("sdecon2").toString
    corpus.toDF("doc_id", "text").limit(0).repartition(1)
      .write.parquet(s"$tmp/in")
    assert(StreamingDecontam.runFileStream(
      spark, StreamRun.Written(s"$tmp/in"), eval.toDF("doc_id", "text"),
      mBits = 1 << 16).count() == 0)
    val tmp2 = graft.TempDirs.create("sdecon3").toString
    corpus.toDF("doc_id", "text").repartition(1).write.parquet(s"$tmp2/in")
    // empty eval -> empty filter -> nothing can be flagged
    assert(StreamingDecontam.runFileStream(
      spark, StreamRun.Written(s"$tmp2/in"), eval.toDF("doc_id", "text").limit(0),
      mBits = 1 << 16).count() == 0)
  }
}
