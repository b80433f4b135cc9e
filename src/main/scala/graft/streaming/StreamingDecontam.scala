package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** STREAMING decontamination — the ingest-time twin of the batch
  * [[graft.functions.Decontam.contaminatedBloom]] (reference streaming
  * ComputationMode applied to the decontamination surface): documents
  * arrive on a stream and are screened against a benchmark/eval-set
  * Bloom filter THE MOMENT they land, so contaminated crawl output never
  * reaches the training corpus at all.
  *
  * Shape: the eval set is static by definition (a benchmark version), so
  * it collapses BATCH-side to the fixed-size bit array once
  * ([[graft.functions.Decontam.bloomFilter]] — ~130 KB at 2²⁰ bits) and
  * ships inside the compiled [[graft.functions.expressions.BloomHits]]
  * expression as a task constant. The stream side is then completely
  * STATELESS — per-document flagging in the scan projection, zero state
  * store, zero shuffle, append-mode safe — which is what makes it the
  * 100 TB-ingest shape: no per-key state to grow, no watermark to tune,
  * backpressure-friendly. (Contrast [[StreamingDedup]], whose semantics
  * genuinely need per-bucket state.)
  *
  * Exact-hit CONFIRMATION (the false-positive audit) stays batch-side on
  * the flagged survivors — the gate query joins it back after the stream
  * completes, reproducing `contaminatedBloom`'s output column-for-column
  * (and therefore sharing the bloom_decontam oracle verbatim). */
object StreamingDecontam {

  /** Flag a (possibly streaming) document frame against a prebuilt Bloom
    * filter: (idCol, n_bloom_hits > 0 rows only). Stateless — safe in any
    * output mode. */
  def flaggedStream(docs: DataFrame, textCol: String, idCol: String,
                    filt: Array[Long], n: Int, numProbes: Int,
                    mBits: Int): DataFrame =
    docs.select(col(idCol),
        graft.functions.expressions.BloomHits(
          graft.functions.Decontam.wordNgrams(col(textCol), n),
          scala.collection.immutable.ArraySeq.unsafeWrapArray(filt),
          numProbes, mBits).as("n_bloom_hits"))
      .where(col("n_bloom_hits") > 0)

  /** End-to-end convenience for the gate and tests: build the filter from
    * `eval` (batch), stream the corpus through a file source, screen every
    * arrival, return the flagged table. */
  def runFileStream(spark: SparkSession, input: StreamRun.Input, eval: DataFrame,
                    textCol: String = "text", idCol: String = "doc_id",
                    n: Int = 8, numProbes: Int = 5, mBits: Int = 1 << 20,
                    maxFilesPerTrigger: Int = 4): DataFrame = {
    val filt = graft.functions.Decontam.bloomFilter(
      eval, textCol, n, numProbes, mBits)
    // the screen must stay stateless — a state store appearing here
    // means the plan regressed out of the pure-scan shape
    def stateless(q: org.apache.spark.sql.streaming.StreamingQuery): Unit =
      require(q.lastProgress == null || q.lastProgress.stateOperators.isEmpty,
        "streaming decontamination must be stateless")
    StreamRun.replay(spark, "stream_decontam", Seq(input), maxFilesPerTrigger,
        check = stateless) { streams =>
      flaggedStream(streams.head, textCol, idCol, filt, n, numProbes, mBits)
    }
  }
}
