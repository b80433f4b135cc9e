package graft.streaming

import java.sql.Timestamp
import graft.SparkSpec
import graft.ops.Materialize
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def writeTriples(dir: String): Unit = {
    val ev = graft.sources.Readers.eventsNormalized(spark, sf001)
      .select($"user_id".as("entity"), $"value", $"ts")
    ev.write.mode("overwrite").parquet(dir)
  }

  test("streaming latest-value state converges to the batch materialization") {
    val dir = graft.TempDirs.create("graft-st").toString
    writeTriples(dir)
    val stream = StreamingLatest.readTripleStream(spark, dir, maxFilesPerTrigger = 2)
    val latest = StreamingLatest.latestValueStream(spark, stream)
    val q = latest.writeStream.outputMode("update")
      .format("memory").queryName("latest_out").start()
    try q.processAllAvailable() finally q.stop()

    // streaming emits updates; final value per entity = last emitted
    val streamed = spark.sql(
      """SELECT entity, value, ts FROM latest_out a
        |WHERE ts = (SELECT max(ts) FROM latest_out b WHERE a.entity = b.entity)
        |""".stripMargin)
      .groupBy("entity").agg(max("value").as("value"))
    val batch = Materialize.latestTriple(spark.read.parquet(dir))
      .select($"entity", $"value")
    assert(streamed.except(batch).count() == 0)
    assert(batch.except(streamed).count() == 0)
  }

  test("windowed counts respect window boundaries") {
    val df = Seq(
      (1L, 1.0, Timestamp.valueOf("2024-01-01 00:01:00")),
      (1L, 2.0, Timestamp.valueOf("2024-01-01 00:04:00")),
      (1L, 4.0, Timestamp.valueOf("2024-01-01 00:11:00"))
    ).toDF("entity", "value", "ts")
    val got = StreamingLatest.windowedCounts(df, "10 minutes", "10 minutes", "1 hour")
      .select($"entity", $"n", $"sum_value").orderBy($"sum_value").collect()
    assert(got.map(r => (r.getLong(1), r.getDouble(2))).toSeq ==
      Seq((2L, 3.0), (1L, 4.0)))
  }

  test("incrementalRead picks up only new version dirs") {
    val base = graft.TempDirs.create("graft-inc").toString
    val d1 = graft.sources.Writers.writeVersioned(Seq((1L, 1.0)).toDF("e", "v"), base)
    val (dirs1, df1) = StreamingLatest.incrementalRead(spark, base, None)
    assert(dirs1 == Seq(d1) && df1.get.count() == 1)
    Thread.sleep(5)
    val d2 = graft.sources.Writers.writeVersioned(Seq((2L, 2.0)).toDF("e", "v"), base)
    val (dirs2, df2) = StreamingLatest.incrementalRead(spark, base, Some(d1))
    assert(dirs2 == Seq(d2) && df2.get.count() == 1)
    val (dirs3, df3) = StreamingLatest.incrementalRead(spark, base, Some(d2))
    assert(dirs3.isEmpty && df3.isEmpty)
  }
}

class IncrementalRunnerSpec extends graft.SparkSpec {
  import spark.implicits._
  import java.sql.Timestamp
  private def ts(s: Long) = new Timestamp(s * 1000)

  test("refreshLatest folds only new version dirs into the snapshot") {
    val events = graft.TempDirs.create("graft-ev").toString
    val snap = graft.TempDirs.create("graft-sn").toString
    graft.sources.Writers.writeVersioned(
      Seq((1L, 10.0, ts(100)), (2L, 20.0, ts(100))).toDF("entity", "value", "ts"), events)
    val v1 = IncrementalRunner.refreshLatest(spark, events, snap)
    assert(v1.isDefined)
    assert(graft.sources.Writers.readLatest(spark, snap).count() == 2)
    // no new data -> no-op
    assert(IncrementalRunner.refreshLatest(spark, events, snap).isEmpty)
    // append a delta: newer value for 1, new entity 3
    Thread.sleep(5)
    graft.sources.Writers.writeVersioned(
      Seq((1L, 11.0, ts(200)), (3L, 30.0, ts(100))).toDF("entity", "value", "ts"), events)
    val v2 = IncrementalRunner.refreshLatest(spark, events, snap)
    assert(v2.isDefined && v2 != v1)
    val got = graft.sources.Writers.readLatest(spark, snap)
      .select("entity", "value").as[(Long, Double)].collect().toMap
    assert(got == Map(1L -> 11.0, 2L -> 20.0, 3L -> 30.0))
  }
}
