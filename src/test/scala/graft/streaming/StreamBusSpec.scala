package graft.streaming

import graft.SparkSpec
import graft.ops.Materialize
import org.apache.spark.sql.functions._

/** The seam suite: every binding [[StreamBus.available]] reports runs the
  * SAME produce → consume → sink → replay cycle and the same stateful
  * consumer graph — in this sandbox that's the file bus; on a
  * Kafka-enabled cluster (connector jar + `spark.graft.kafka.bootstrap`)
  * the identical assertions certify the real connector. */
class StreamBusSpec extends SparkSpec {
  import spark.implicits._

  private def triples() =
    graft.sources.Readers.eventsNormalized(spark, sf001)
      .select($"user_id".as("entity"), $"value", $"ts")

  for (bus <- StreamBus.available(spark)) {
    test(s"[${bus.name}] produce -> stream -> sink -> replay loses and duplicates nothing") {
      val tmp = graft.TempDirs.create("graft-bus").toString
      val in = triples()
      bus.produce(in.repartition(4), s"$tmp/in")
      val q = bus.sinkTriples(bus.readTriples(spark, s"$tmp/in", 2),
        s"$tmp/topic", s"$tmp/chk")
      try q.processAllAvailable() finally q.stop()
      val replayed = bus.readAll(spark, s"$tmp/topic")
      assert(replayed.count() == in.count())
      // multiset equality via order-independent per-entity stats
      def stats(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("entity").agg(count(lit(1)).as("n"),
          // decimal sum: order-independent where a double sum is not
          sum($"value".cast("decimal(28,10)")).as("s"),
          max(unix_millis($"ts")).as("mx"))
      assert(stats(replayed).except(stats(in)).isEmpty &&
        stats(in).except(stats(replayed)).isEmpty)
    }

    test(s"[${bus.name}] latest-value consumer over the bus matches the batch materialization") {
      val tmp = graft.TempDirs.create("graft-bus2").toString
      bus.produce(triples(), s"$tmp/in")
      val latest = StreamingLatest.latestValueStream(spark,
        bus.readTriples(spark, s"$tmp/in", 2))
      val name = s"bus_latest_${bus.name}"
      val q = latest.writeStream.outputMode("update")
        .format("memory").queryName(name).start()
      try q.processAllAvailable() finally q.stop()
      val streamed = spark.sql(
        s"""SELECT entity, value FROM $name a
           |WHERE ts = (SELECT max(ts) FROM $name b WHERE a.entity = b.entity)
           |""".stripMargin)
        .groupBy("entity").agg(max("value").as("value"))
      val batch = Materialize.latestTriple(bus.readAll(spark, s"$tmp/in"))
        .select($"entity", $"value")
      assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty)
    }
  }

  test("resolve honors spark.graft.streamBus and rejects kafka without jar+brokers") {
    assert(StreamBus.resolve(spark).name == "file") // auto, no jar here
    spark.conf.set("spark.graft.streamBus", "file")
    try assert(StreamBus.resolve(spark).name == "file")
    finally spark.conf.unset("spark.graft.streamBus")
    if (!StreamBus.kafkaAvailable(spark)) {
      spark.conf.set("spark.graft.streamBus", "kafka")
      try intercept[IllegalArgumentException](StreamBus.resolve(spark))
      finally spark.conf.unset("spark.graft.streamBus")
    }
  }
}
