package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Production-vocabulary BPE training artifact: proves
  * [[graft.functions.BpeTrain.trainScaled]] reaches a REALISTIC merge
  * count (≥ 8k — the scale of real tokenizer vocabularies) in a BOUNDED
  * Spark job count (≤ 50; counted by [[graft.metrics.SparkCounters]]),
  * where the one-job-per-merge loop would need ≥ 8k jobs and the batched
  * trainer ~250.
  *
  * The synthetic corpus's base vocabulary is tiny (31 distinct `[a-z]+`
  * words — its merge closure saturates at 89), so the bench corpus fuses
  * each document's adjacent word pairs and triples into single tokens —
  * a deterministic function of the testdata with a combinatorially
  * larger vocabulary (~n³ distinct fused words), which is exactly the
  * state size the trainer must handle at web scale. Emits ONE JSON line
  * and writes BENCH_bpe_c<cpus>.json in the working directory. */
object BpeBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val target = sys.env.getOrElse("SPARK_GRAFT_BPE_MERGES", "8192").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // fused 1+2+3-gram corpus: every word, word-pair, and word-triple of
    // each document concatenated into one token — vocabulary ~n + n² + n³
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), w => w.rlike("^[a-z]+$"))
          .as("ws"))
      .select(concat_ws(" ",
        array_join(col("ws"), " "),
        array_join(zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 1, lit(0))),
          slice(col("ws"), lit(2), greatest(size(col("ws")) - 1, lit(0))),
          (a, b) => concat(a, b)), " "),
        array_join(zip_with(
          slice(col("ws"), lit(1), greatest(size(col("ws")) - 2, lit(0))),
          zip_with(
            slice(col("ws"), lit(2), greatest(size(col("ws")) - 2, lit(0))),
            slice(col("ws"), lit(3), greatest(size(col("ws")) - 2, lit(0))),
            (b, c) => concat(b, c)),
          (a, bc) => concat(a, bc)), " ")).as("text"))

    val t0 = System.nanoTime()
    val (merges, counters) = graft.metrics.SparkCounters.measure(spark)(
      graft.functions.BpeTrain.trainScaled(docs, "text", target).collect())
    val sec = (System.nanoTime() - t0) / 1e9

    val vocabWords = docs
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) > 0).distinct().count()
    val json =
      s"""{"metric":"bpe_train_scaled","target_merges":$target,""" +
        s""""merges":${merges.length},"spark_jobs":${counters.jobs},""" +
        f""""sec":$sec%.2f,"vocab_words":$vocabWords,""" +
        s""""saturated":${merges.length < target},"sf_dir":"$sfDir"}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"BENCH_bpe_c$cpus.json"), json + "\n")
    spark.stop()
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    if (merges.length < math.min(target, 8000))
      errs += s"merges ${merges.length} < ${math.min(target, 8000)}"
    if (counters.jobs > 50)
      errs += s"spark jobs ${counters.jobs} > 50"
    if (errs.nonEmpty) {
      errs.foreach(e => System.err.println(s"[bpe] ASSERTION FAILED: $e"))
      sys.exit(1)
    }
  }
}
