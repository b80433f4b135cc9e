package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming funnel: watermark-finalized depths equal the batch
  * operator over the same in-watermark data, across micro-batch
  * boundaries and out-of-order delivery. */
class StreamingFunnelSpec extends SparkSpec {
  import spark.implicits._

  private def runStream(rows: Seq[(Long, String, Timestamp)],
                        filesPerTrigger: Int): Map[Long, Int] = {
    val tmp = graft.TempDirs.create("sfun_spec").toString
    // one file per row group of 2 → several micro-batches
    rows.grouped(2).zipWithIndex.foreach { case (g, i) =>
      g.toDF("user", "typ", "ts").coalesce(1)
        .write.mode("append").parquet(s"$tmp/in")
    }
    val maxTs = rows.map(_._3.getTime).max
    Seq((-1L, "view", new Timestamp(maxTs + 3652L * 86400000L)))
      .toDF("user", "typ", "ts").write.mode("append").parquet(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("typ",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", filesPerTrigger).parquet(s"$tmp/in")
    val depths = StreamingFunnel.funnelStream(spark, stream,
      Seq("view", "click", "purchase"), horizonSeconds = 3600,
      delayThreshold = "3650 days")
    val table = s"sfun_${System.nanoTime()}"
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val q = depths.writeStream.outputMode("append")
      .format("memory").queryName(table).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(table).where(col("user") >= 0)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
  }

  private def ts(m: Int) = new Timestamp(86400000L + m * 60000L)

  test("streamed depths equal the batch operator, out-of-order delivery") {
    // deliberately NOT time-ordered across files
    val rows = Seq[(Long, String, Timestamp)](
      (1L, "purchase", ts(20)), (1L, "view", ts(0)),
      (2L, "view", ts(0)), (1L, "click", ts(10)),
      (2L, "click", ts(70)), // beyond the 1h horizon -> depth 1
      (3L, "click", ts(5)), // no view -> never emits
      (4L, "view", ts(0)), (4L, "click", ts(1)), (4L, "purchase", ts(1)))
    // user 4: purchase at the same minute as click -> not strictly later
    val out = runStream(rows, filesPerTrigger = 1)
    val batch = graft.ops.EventFunnel.funnelDepth(
        rows.toDF("user", "typ", "ts"), "user", "ts", "typ",
        Seq("view", "click", "purchase"), 3600)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(out === batch)
    assert(out === Map(1L -> 3, 2L -> 1, 4L -> 2))
  }

  test("each user emits exactly once (tombstone holds)") {
    val rows = Seq[(Long, String, Timestamp)](
      (1L, "view", ts(0)), (1L, "click", ts(1)),
      (1L, "view", ts(100)), (1L, "click", ts(200)),
      (1L, "purchase", ts(300))) // far beyond the first anchor's horizon
    val tmp = graft.TempDirs.create("sfun_once").toString
    rows.grouped(1).foreach { g =>
      g.toDF("user", "typ", "ts").coalesce(1)
        .write.mode("append").parquet(s"$tmp/in")
    }
    Seq((-1L, "view", new Timestamp(ts(300).getTime + 3652L * 86400000L)))
      .toDF("user", "typ", "ts").write.mode("append").parquet(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("typ",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val depths = StreamingFunnel.funnelStream(spark, stream,
      Seq("view", "click", "purchase"), 3600, "3650 days")
    val table = s"sfun_once_${System.nanoTime()}"
    val q = depths.writeStream.outputMode("append")
      .format("memory").queryName(table).start()
    try q.processAllAvailable() finally q.stop()
    val rows2 = spark.table(table).where(col("user") >= 0).collect()
    assert(rows2.length === 1) // one emission despite the later burst
    assert(rows2(0).getInt(1) === 2) // anchored at the FIRST view
  }
}
