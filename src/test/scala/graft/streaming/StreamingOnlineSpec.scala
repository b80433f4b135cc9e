package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.serving.{DiskKv, OnlineStore}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The stream-to-serving loop: latestValueStream updates flow through
  * StreamingOnline.onlineSink into a DiskKv, then serve via OnlineStore
  * point lookups (incl. TTL reads over the streamed (v, t) structs). */
class StreamingOnlineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Long) = new Timestamp(min * 60000L)

  test("streamed updates land in the online store, newest write winning") {
    implicit val sq = spark.sqlContext
    val dir = graft.TempDirs.create("graft-stream-online").toString
    val ckpt = graft.TempDirs.create("graft-stream-ckpt").toString
    val in = MemoryStream[(Long, Double, Timestamp)]
    val updates = StreamingLatest.latestValueStream(spark,
      in.toDF().toDF("entity", "value", "ts"))
    val q = StreamingOnline.onlineSink(updates.toDF(), "clicks",
      () => new DiskKv(dir), ckpt)
    val store = new OnlineStore(new DiskKv(dir))
    try {
      // batch 1: entities 1 and 2
      in.addData((1L, 10.0, ts(100)), (2L, 5.0, ts(100)))
      q.processAllAvailable()
      assert(store.get("clicks", 1L).map(_.asInstanceOf[Row].getDouble(0))
        == Some(10.0))
      // batch 2: entity 1 advances, entity 2's stale row is ignored by the
      // latest-state operator (no update row emitted at all)
      in.addData((1L, 20.0, ts(200)), (2L, 99.0, ts(50)))
      q.processAllAvailable()
      assert(store.get("clicks", 1L).map(_.asInstanceOf[Row].getDouble(0))
        == Some(20.0))
      assert(store.get("clicks", 2L).map(_.asInstanceOf[Row].getDouble(0))
        == Some(5.0))
      assert(store.get("clicks", 3L).isEmpty)
      // TTL reads over the streamed structs: entity 1's ts is minute 200
      val t200 = 200L * 60000L
      assert(store.getFresh("clicks", 1L, maxAgeMs = 60000L,
        asOfMs = t200 + 60000L) == Some(20.0))
      assert(store.getFresh("clicks", 1L, maxAgeMs = 60000L,
        asOfMs = t200 + 60001L) == None)
    } finally q.stop()
  }
}
