package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming CUSUM: watermark-finalized per-key summaries equal the
  * batch sorted-fold, across micro-batch boundaries, out-of-order
  * delivery, and mid-stream incremental finalization. */
class StreamingCusumSpec extends SparkSpec {
  import spark.implicits._

  private val target = 10.0
  private val slack = 1.0
  private val h = 5.0

  private def ts(m: Int) = new Timestamp(86400000L + m * 60000L)

  private def runStream(rows: Seq[(Long, Long, Timestamp, Double)],
                        rowsPerFile: Int, delay: String): Seq[Row] = {
    val tmp = graft.TempDirs.create("scus_spec").toString
    rows.grouped(rowsPerFile).foreach { g =>
      g.toDF("key", "id", "ts", "x").coalesce(1)
        .write.mode("append").parquet(s"$tmp/in")
    }
    val maxTs = rows.map(_._3.getTime).max
    Seq((-1L, -1L, new Timestamp(maxTs + 3652L * 86400000L), 0.0))
      .toDF("key", "id", "ts", "x").write.mode("append").parquet(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val sums = StreamingCusum.cusumStream(spark, stream, target, slack, h,
      delayThreshold = delay)
    val table = s"scus_${System.nanoTime()}"
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val q = sums.toDF().writeStream.outputMode("append")
      .format("memory").queryName(table).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(table).where(col("key") >= 0)
      .orderBy("key").collect().toSeq
  }

  private def batch(rows: Seq[(Long, Long, Timestamp, Double)]): Seq[Row] =
    graft.ops.Smooth.cusum(rows.toDF("key", "id", "ts", "x"),
        "key", "ts", "id", "x", target, slack, h)
      .orderBy("key").collect().toSeq

  private val fixture = Seq[(Long, Long, Timestamp, Double)](
    // key 1: drifts up, alarms once, resets, climbs again
    (1L, 1L, ts(0), 13.0), (1L, 2L, ts(1), 14.0), (1L, 3L, ts(2), 12.0),
    (1L, 4L, ts(3), 15.0), (1L, 5L, ts(4), 9.0), (1L, 6L, ts(5), 16.0),
    // key 2: stays in control, no alarm
    (2L, 7L, ts(0), 10.0), (2L, 8L, ts(2), 11.0), (2L, 9L, ts(4), 9.5),
    // key 3: single huge spike → immediate alarm
    (3L, 10L, ts(1), 100.0))

  test("streamed summaries equal the batch fold (buffered until close)") {
    val got = runStream(fixture, rowsPerFile = 2, delay = "3650 days")
    assert(got == batch(fixture))
  }

  test("out-of-order delivery still folds in event-time order") {
    // reverse delivery order entirely; event-time result must not change
    val got = runStream(fixture.reverse, rowsPerFile = 2, delay = "3650 days")
    assert(got == batch(fixture))
  }

  test("mid-stream finalization: tight watermark folds prefixes incrementally") {
    // in-order files with a zero-delay watermark: each batch finalizes
    // the previous one's rows, so the fold registers advance mid-stream
    // and the buffer stays small — the summary must still be batch-exact
    val got = runStream(fixture.sortBy(r => (r._3.getTime, r._2)),
      rowsPerFile = 2, delay = "0 seconds")
    assert(got == batch(fixture))
  }

  test("alarm bookkeeping: first alarm ms and reset semantics") {
    val r = batch(fixture).find(_.getLong(0) == 1L).get
    // replay by hand: s accumulates x-11 clipped at 0, alarm when > 5
    // 13→2, 14→5, 12→6 ALARM(reset), 15→4, 9→2, 16→7 ALARM(reset)
    assert(r.getLong(2) == 2L)
    assert(r.getLong(3) == ts(2).getTime)
    val s = runStream(fixture, 3, "3650 days").find(_.getLong(0) == 1L).get
    assert(s.getLong(2) == 2L && s.getLong(3) == ts(2).getTime)
  }
}
