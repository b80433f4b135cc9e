package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Stream-bus seam — one interface over "a topic you can produce to,
  * consume as a stream, and replay from the beginning", with two
  * bindings, mirroring [[graft.sources.TableFormat]]'s classpath-gated
  * pattern:
  *
  *  - [[FileBus]] (always available): dir-as-topic over the file
  *    stream source/sink — append-only parquet files with the sink
  *    commit log supplying exactly-once (the emulation the streaming
  *    suite has always run on).
  *  - [[KafkaBus]] (available iff the spark-sql-kafka connector jar is
  *    on the classpath AND `spark.graft.kafka.bootstrap` names the
  *    brokers): real `format("kafka")` source/sink with JSON-encoded
  *    triples, the reference's topic wiring
  *    (offline_store_spark_runner.py:240-415 builds exactly this read —
  *    kafka source → cast value → from_json → columns; 385-407 the
  *    streaming consumer loop). Compiled entirely against the
  *    stringly-typed DataSource surface, so this file needs no Kafka
  *    dependency; the classpath probe gates activation.
  *
  * Resolution: `spark.graft.streamBus` = `auto` (default — Kafka when
  * jar + brokers are configured, else files) | `kafka` | `file`. Both
  * bindings carry the SAME record contract: canonical feature triples
  * `(entity long, value double, ts timestamp)`; the streaming suites
  * parameterize over every available binding, so a Kafka-enabled
  * cluster certifies the real connector with the identical operator
  * graphs downstream. */
trait StreamBus {
  def name: String

  /** Streaming read of canonical triples from `topic`, from the
    * beginning; `maxPerTrigger` bounds each micro-batch (files for the
    * file bus, records for Kafka's `maxOffsetsPerTrigger`). */
  def readTriples(spark: SparkSession, topic: String,
                  maxPerTrigger: Int = 16): DataFrame

  /** Batch-produce triples to `topic` (the registration-time backfill
    * producer; also the test harness's seed step). */
  def produce(df: DataFrame, topic: String): Unit

  /** Stream `triples` into `topic` (append mode, exactly-once via the
    * sink's own mechanism); caller owns the returned query lifecycle.
    * `availableNow = true` drains the currently-available data and
    * self-terminates ([[StreamRun.await]]) — the bounded-replay shape;
    * false (default) runs perpetually. */
  def sinkTriples(triples: DataFrame, topic: String,
                  checkpoint: String,
                  availableNow: Boolean = false): StreamingQuery

  /** Batch replay of everything currently in `topic` (consumer from
    * earliest) as canonical triples. */
  def readAll(spark: SparkSession, topic: String): DataFrame
}

object StreamBus {

  /** True iff the spark-sql-kafka connector is on the classpath. */
  def kafkaJarPresent: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
      true
    } catch { case _: ClassNotFoundException => false }

  /** Kafka usable in THIS session: jar + configured brokers. */
  def kafkaAvailable(spark: SparkSession): Boolean =
    kafkaJarPresent &&
      spark.conf.getOption("spark.graft.kafka.bootstrap").exists(_.nonEmpty)

  /** Bindings usable in this session — what the suites parameterize over. */
  def available(spark: SparkSession): Seq[StreamBus] =
    if (kafkaAvailable(spark)) Seq(FileBus, new KafkaBus(
      spark.conf.get("spark.graft.kafka.bootstrap")))
    else Seq(FileBus)

  /** Resolve per `spark.graft.streamBus` (auto | kafka | file). */
  def resolve(spark: SparkSession): StreamBus =
    spark.conf.get("spark.graft.streamBus", "auto") match {
      case "file" => FileBus
      case "kafka" =>
        require(kafkaAvailable(spark), "spark.graft.streamBus=kafka needs " +
          "the spark-sql-kafka jar on the classpath and " +
          "spark.graft.kafka.bootstrap set to the broker list")
        new KafkaBus(spark.conf.get("spark.graft.kafka.bootstrap"))
      case _ =>
        if (kafkaAvailable(spark))
          new KafkaBus(spark.conf.get("spark.graft.kafka.bootstrap"))
        else FileBus
    }
}

/** The always-available binding: dir-as-topic over parquet file
  * streams. Append-only; the file-sink commit log de-duplicates partial
  * writes, which is the exactly-once contract the Kafka producer's
  * idempotent mode gives the reference. */
object FileBus extends StreamBus {
  def name: String = "file"

  def readTriples(spark: SparkSession, topic: String,
                  maxPerTrigger: Int): DataFrame =
    spark.readStream
      .schema(StreamingLatest.tripleSchema)
      .option("maxFilesPerTrigger", maxPerTrigger)
      .parquet(topic)

  def produce(df: DataFrame, topic: String): Unit =
    df.select(col("entity").cast("long").as("entity"),
        col("value").cast("double").as("value"),
        col("ts").cast("timestamp").as("ts"))
      .write.mode("append").parquet(topic)

  def sinkTriples(triples: DataFrame, topic: String,
                  checkpoint: String,
                  availableNow: Boolean = false): StreamingQuery =
    StreamRun.start(triples.writeStream.outputMode("append").format("parquet")
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(0L))
      .option("path", topic)
      .option("checkpointLocation", checkpoint))

  def readAll(spark: SparkSession, topic: String): DataFrame =
    spark.read.schema(StreamingLatest.tripleSchema).parquet(topic)
}

/** The Kafka binding — stringly-typed `format("kafka")` source/sink,
  * jar-gated behind [[StreamBus.kafkaJarPresent]]. Triples ride as JSON
  * values keyed by entity (key-hash partitioning keeps one entity's
  * records ordered within a partition — what the stateful consumers
  * assume). */
final class KafkaBus(bootstrap: String) extends StreamBus {
  def name: String = "kafka"

  private def parse(raw: DataFrame): DataFrame =
    raw.select(from_json(col("value").cast("string"),
        StreamingLatest.tripleSchema).as("r"))
      .select(col("r.entity"), col("r.value"), col("r.ts"))

  def readTriples(spark: SparkSession, topic: String,
                  maxPerTrigger: Int): DataFrame =
    parse(spark.readStream.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", maxPerTrigger.toLong * 1000L)
      .load())

  private def encoded(df: DataFrame): DataFrame =
    df.select(col("entity").cast("string").as("key"),
      to_json(struct(col("entity").cast("long").as("entity"),
        col("value").cast("double").as("value"),
        col("ts").cast("timestamp").as("ts"))).as("value"))

  def produce(df: DataFrame, topic: String): Unit =
    encoded(df).write.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .save()

  def sinkTriples(triples: DataFrame, topic: String,
                  checkpoint: String,
                  availableNow: Boolean = false): StreamingQuery =
    StreamRun.start(encoded(triples).writeStream.format("kafka")
      .trigger(if (availableNow) Trigger.AvailableNow()
               else Trigger.ProcessingTime(0L))
      .option("kafka.bootstrap.servers", bootstrap)
      .option("topic", topic)
      .option("checkpointLocation", checkpoint))

  def readAll(spark: SparkSession, topic: String): DataFrame =
    parse(spark.read.format("kafka")
      .option("kafka.bootstrap.servers", bootstrap)
      .option("subscribe", topic)
      .option("startingOffsets", "earliest")
      .option("endingOffsets", "latest")
      .load())
}
