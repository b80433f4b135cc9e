package graft.functions

import graft.SparkSpec

/** The persist-vs-checkpoint signature barrier must not change results. */
class BarrierSpec extends SparkSpec {

  test("minhashNearDups identical with checkpointed signature table") {
    spark.sparkContext.setCheckpointDir(
      graft.TempDirs.create("graft_ckpt").toString)
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
    val a = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5)
      .collect().map(_.toSeq).toSet
    val b = Dedup.minhashNearDups(docs, "text", "doc_id", threshold = 0.5,
      checkpointSignatures = true).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }
}
