package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Subprocess main for the REAL kill-mid-ingest recovery test
  * ([[StreamingRecoverySpec]] spawns it with the test JVM's own
  * classpath): run a checkpointed stream in one-file micro-batches and
  * HALT the JVM — `Runtime.halt`, no shutdown hooks, no graceful stop,
  * possibly mid-batch — right after the Nth data batch commits. The
  * parent then restarts the same sink over the same checkpoint and must
  * land on the uninterrupted run's exact answer (no loss, no dup). Exit
  * code 42 signals "halted as planned"; a normal exit means the stream
  * drained before the halt fired (a test-setup bug the parent asserts
  * against). */
object StreamKillRun {
  def main(args: Array[String]): Unit = {
    val Array(mode, inDir, outDir, ckptDir, haltAfter, ttlMs) = args
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-stream-kill")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    val n = haltAfter.toInt
    spark.streams.addListener(new StreamingQueryListener {
      private var committed = 0
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryIdle(
          e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (e.progress.numInputRows > 0) {
          committed += 1
          if (committed >= n) {
            println(s"HALTING after $committed data batches")
            System.out.flush()
            Runtime.getRuntime.halt(42)
          }
        }
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    mode match {
      case "latest" =>
        val stream = StreamingLatest.readTripleStream(spark, inDir,
          maxFilesPerTrigger = 1)
        val q = StreamingOnline.onlineSink(
          StreamingLatest.latestValueStream(spark, stream).toDF(),
          "rec_feat", () => new graft.serving.DiskKv(outDir), ckptDir)
        q.awaitTermination(180000L)
      case "ttl" =>
        val schema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts",
            org.apache.spark.sql.types.TimestampType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType)))
        val stream = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(inDir)
        val q = StreamRun.start(StreamingDedup.dupPairsStreamTtl(spark,
            StreamingDedup.bandedDocsTs(stream, "text", "doc_id", "ts")
              .withWatermark("ts", "0 seconds"),
            ttlMs.toLong)
          .toDF()
          .writeStream.outputMode("update")
          .option("checkpointLocation", ckptDir)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(outDir)
          })
        q.awaitTermination(180000L)
    }
    // reachable only if the halt never fired: exit 0 = setup bug upstream
    spark.stop()
  }
}
