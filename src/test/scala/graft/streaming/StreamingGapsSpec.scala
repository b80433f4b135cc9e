package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Streaming gap alerts equal the batch LEAD formulation across delivery
  * orders and watermark cadences. */
class StreamingGapsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(m: Int) = new Timestamp(86400000L + m * 60000L)

  private def runStream(rows: Seq[(Long, Long, Timestamp)],
                        delay: String): Set[(Long, Long, Long, Long)] = {
    val tmp = graft.TempDirs.create("sgap_spec").toString
    rows.grouped(2).foreach { g =>
      g.toDF("key", "id", "ts").coalesce(1)
        .write.mode("append").parquet(s"$tmp/in")
    }
    val maxTs = rows.map(_._3.getTime).max
    Seq((-1L, -1L, new Timestamp(maxTs + 3652L * 86400000L)))
      .toDF("key", "id", "ts").write.mode("append").parquet(s"$tmp/in")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("key",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in")
    val gaps = StreamingGaps.gapStream(spark, stream,
      gapSeconds = 600L, delayThreshold = delay) // 10-minute heartbeat
    val table = s"sgap_${System.nanoTime()}"
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "true")
    val q = gaps.toDF().writeStream.outputMode("append")
      .format("memory").queryName(table).start()
    try q.processAllAvailable() finally q.stop()
    spark.table(table).where(col("key") >= 0)
      .as[(Long, Long, Long, Long)].collect().toSet
  }

  private def batch(rows: Seq[(Long, Long, Timestamp)])
      : Set[(Long, Long, Long, Long)] =
    rows.groupBy(_._1).toSeq.flatMap { case (k, rs) =>
      rs.sortBy(r => (r._3.getTime, r._2)).sliding(2).collect {
        case Seq(a, b) if b._3.getTime - a._3.getTime > 600000L =>
          (k, a._3.getTime, b._3.getTime,
            (b._3.getTime - a._3.getTime) / 1000L)
      }
    }.toSet

  private val fixture = Seq[(Long, Long, Timestamp)](
    (1L, 1L, ts(0)), (1L, 2L, ts(5)), (1L, 3L, ts(40)),  // 35-min gap
    (1L, 4L, ts(45)), (1L, 5L, ts(120)),                  // 75-min gap
    (2L, 6L, ts(0)), (2L, 7L, ts(9)),                     // under threshold
    (3L, 8L, ts(10)))                                     // single event

  test("streamed alerts equal the batch LEAD gaps") {
    assert(runStream(fixture, "3650 days") == batch(fixture))
    assert(batch(fixture).size == 2)
  }

  test("out-of-order delivery produces the same alerts") {
    assert(runStream(fixture.reverse, "3650 days") == batch(fixture))
  }

  test("tight watermark emits incrementally with identical final set") {
    val ordered = fixture.sortBy(r => (r._3.getTime, r._2))
    assert(runStream(ordered, "0 seconds") == batch(fixture))
  }
}
