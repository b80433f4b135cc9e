package graft.streaming

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.serving.KvBackend

/** Streaming online materialization — the stream-to-serving loop closed
  * (reference: `ComputationMode.STREAMING` features flowing through the
  * materializer into the online store; metadata.proto:228-232 +
  * runner/materialize.go's chunk writer, fed by a stream instead of a
  * table scan).
  *
  * Each micro-batch upserts partition-side: `foreachBatch` hands the batch
  * DataFrame to per-partition backend clients (`backendFactory` runs
  * EXECUTOR-side, the [[graft.serving.OnlineBulkLoad]] rule) — the driver
  * never holds the rows, so a 1000-executor stream writes 1000 ways
  * concurrently. KV upsert ≡ the K6 MERGE: within a batch each entity
  * appears at most once (feed this from
  * [[StreamingLatest.latestValueStream]], which emits only changed latest
  * rows); across batches the write carries the GLOBAL streaming batchId as
  * the version (`putBatchVersioned`), so the newest batch wins on every
  * backend regardless of which executor JVM wrote it — per-writer clocks
  * never order conflicting puts.
  *
  * Values are stored as (v, t) epoch-ms structs — the
  * [[graft.serving.OnlineStore.loadWithTs]] shape — so TTL reads
  * (`getFresh`) work identically for batch-loaded and stream-fed features.
  */
object StreamingOnline {

  /** Start the sink over (entity, value, ts) update rows. Exactly-once is
    * the usual foreachBatch contract: replayed batches rewrite the same
    * (entity -> newest value) state, so the upsert is idempotent at the
    * value level. */
  def onlineSink(updates: DataFrame, feature: String,
                 backendFactory: () => KvBackend,
                 checkpointDir: String,
                 availableNow: Boolean = false): StreamingQuery = {
    backendFactory().createTable(feature)
    StreamRun.start(updates.writeStream
      .trigger(if (availableNow) org.apache.spark.sql.streaming.Trigger.AvailableNow()
               else org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch
          .select(col("entity"),
            struct(col("value").as("v"), unix_millis(col("ts")).as("t"))
              .as("value"))
          .foreachPartition { rows: Iterator[Row] =>
            backendFactory().putBatchVersioned(feature, batchId,
              rows.map(r => r.get(0) -> r.get(1)))
          }
      })
  }

  /** Streaming VECTOR upkeep — the online ANN store fed by a stream (the
    * reference's Redis-HNSW vector tables, provider/redis.go:454-493,
    * kept current by the streaming materializer instead of batch loads).
    * Two consumers per micro-batch:
    *
    *  - the BACKEND rows write partition-side with the global batchId as
    *    version ([[onlineSink]]'s rule — newest batch wins regardless of
    *    writer JVM), so `OnlineStore.nearest`'s scan path is current the
    *    moment the batch commits. `versionBase` orders SUCCESSIVE streams
    *    into one table (a second stream's batchIds restart at 0 — without
    *    a base its overwrites would LOSE to the first stream's versions);
    *  - an optional in-process `indexSubscriber` consumes the batch as a
    *    changelog (driver-side, delta-sized — never corpus-sized) and
    *    upserts a built [[graft.serving.VectorIndex]] in place, evicting
    *    stale entries so overwritten vectors stop matching under their
    *    old direction.
    *
    * `updates` carries (entity, vector array<float>) columns. */
  def vectorSink(updates: DataFrame, feature: String,
                 backendFactory: () => KvBackend,
                 checkpointDir: String,
                 versionBase: Long = 0L,
                 indexSubscriber: Option[graft.serving.OnlineStore] = None,
                 availableNow: Boolean = false)
      : StreamingQuery = {
    val table = graft.serving.OnlineStore.vectorTable(feature)
    backendFactory().createTable(table)
    StreamRun.start(updates.writeStream
      .trigger(if (availableNow) org.apache.spark.sql.streaming.Trigger.AvailableNow()
               else org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val rows = batch.select(col("entity"), col("vector"))
        rows.foreachPartition { it: Iterator[Row] =>
          backendFactory().putBatchVersioned(table, versionBase + batchId,
            it.map(r => r.get(0) -> r.get(1)))
        }
        indexSubscriber.foreach { store =>
          store.applyIndexDeltas(feature,
            rows.toLocalIterator().asScala.map { r =>
              val v = r.getSeq[Float](1).toArray
              (r.get(0), v)
            })
        }
      })
  }
}
