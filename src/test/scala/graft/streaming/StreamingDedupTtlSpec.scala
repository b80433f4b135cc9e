package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** State lifecycle of the TTL near-dup matcher: event-time window rule,
  * watermark-driven member pruning, idle-bucket garbage collection. */
class StreamingDedupTtlSpec extends SparkSpec {
  import spark.implicits._

  private val Same = "the quick brown fox jumps over the lazy dog today"

  private def ts(s: String): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(s)

  test("pairs require event times within ttl; expired buckets are GC'd") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val banded = StreamingDedup.bandedDocsTs(
      in.toDF.toDF("doc_id", "ts", "text"), "text", "doc_id", "ts")
      .withWatermark("ts", "0 seconds")
    val table = s"sdedup_ttl_${System.nanoTime()}"
    val q = StreamingDedup.dupPairsStreamTtl(spark, banded,
        ttlMs = 60000L) // 1-minute window
      .writeStream.format("memory").queryName(table)
      .outputMode("update").start()
    def stateRows: Long = {
      val p = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get
      p.stateOperators(0).numRowsTotal
    }
    try {
      // batch 1: first copy of the duplicate text
      in.addData((1L, ts("2024-01-01 10:00:00"), Same))
      q.processAllAvailable()
      // batch 2: second copy 30 s later (inside ttl) → pair (1,2);
      // an unrelated doc 10 min ahead drags the watermark forward
      in.addData((2L, ts("2024-01-01 10:00:30"), Same),
        (99L, ts("2024-01-01 10:10:00"), "completely unrelated content"))
      q.processAllAvailable()
      // batch 3: third copy 10 min after the first two — SAME text, same
      // buckets, but outside the 1-minute window → no pair; the watermark
      // (now 10:10:00) also prunes members 1 and 2 from the buckets
      in.addData((3L, ts("2024-01-01 10:10:00"), Same))
      q.processAllAvailable()
      // batches 4+5: push the watermark past every earlier bucket's
      // newest-member + ttl so idle-bucket timeouts fire
      in.addData((100L, ts("2024-01-01 10:20:00"), "another distinct text"))
      q.processAllAvailable()
      in.addData((101L, ts("2024-01-01 10:30:00"), "yet more distinct text"))
      q.processAllAvailable()

      val pairs = spark.table(table)
        .select(col("idA"), col("idB"), col("hamming").cast("long"))
        .distinct().as[(Long, Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L, 0L)),
        s"expected only the in-window pair (1,2), got $pairs")
      // GC proof: only the two youngest docs' buckets (4 each) survive —
      // full-history state would hold 4 buckets per distinct text plus
      // 3 members in the duplicate-text buckets
      assert(stateRows <= 8L,
        s"state not garbage-collected: $stateRows rows (expected <= 8)")
    } finally q.stop()
  }

  test("bucket cap interacts with pruning: a full bucket re-admits arrivals " +
    "once old members expire") {
    implicit val sc = spark.sqlContext
    val in = MemoryStream[(Long, java.sql.Timestamp, String)]
    val banded = StreamingDedup.bandedDocsTs(
      in.toDF.toDF("doc_id", "ts", "text"), "text", "doc_id", "ts")
      .withWatermark("ts", "0 seconds")
    val table = s"sdedup_ttl_cap_${System.nanoTime()}"
    val q = StreamingDedup.dupPairsStreamTtl(spark, banded,
        ttlMs = 60000L, maxPerBucket = 2)
      .writeStream.format("memory").queryName(table)
      .outputMode("update").start()
    try {
      // batch 1 fills every bucket of the duplicate text to the cap
      in.addData((1L, ts("2024-01-01 10:00:00"), Same),
        (2L, ts("2024-01-01 10:00:01"), Same))
      q.processAllAvailable()
      // batch 2: bucket full → doc 3 dropped entirely (no pair to 1/2)
      in.addData((3L, ts("2024-01-01 10:00:02"), Same))
      q.processAllAvailable()
      assert(StreamingDedup.lastDropsAcc.value > 0L)
      // batch 3: watermark jumps 10 min → members 1/2 pruned on next
      // visit, so the bucket is no longer full and doc 4 joins (no pair:
      // nothing live within ttl); doc 5 within ttl of 4 → pair (4,5)
      in.addData((99L, ts("2024-01-01 10:10:00"), "unrelated content here"))
      q.processAllAvailable()
      in.addData((4L, ts("2024-01-01 10:10:30"), Same))
      q.processAllAvailable()
      in.addData((5L, ts("2024-01-01 10:10:40"), Same))
      q.processAllAvailable()
      val pairs = spark.table(table)
        .select(col("idA"), col("idB"), col("hamming").cast("long"))
        .distinct().as[(Long, Long, Long)].collect().toSet
      assert(pairs == Set((1L, 2L, 0L), (4L, 5L, 0L)),
        s"expected cap re-admission after expiry, got $pairs")
    } finally q.stop()
  }

  test("with in-watermark data, TTL stream == batch all-pairs with ts filter") {
    val docs = Seq(
      (1L, "2024-01-01 09:00:00", Same),
      (2L, "2024-01-01 09:00:40", Same),            // within 1 min of 1
      (3L, "2024-01-01 09:05:00", Same),            // outside 1 min of 1,2
      (4L, "2024-01-01 09:05:30", Same),            // within 1 min of 3
      (5L, "2024-01-01 09:00:10", "other words entirely different here"))
    val tmp = graft.TempDirs.create("sdedup_ttl_f").toString
    docs.map { case (id, t, txt) => (id, ts(t), txt) }
      .toDF("doc_id", "ts", "text")
      .repartition(2).write.parquet(s"$tmp/in")
    // huge watermark delay → nothing pruned; the per-pair event-time rule
    // alone decides, so the answer equals the batch filter exactly
    val got = StreamingDedup.runFileStreamTtl(spark, StreamRun.Written(s"$tmp/in"),
        ttlMs = 60000L, delay = "7 days", maxFilesPerTrigger = 1)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((1L, 2L, 0L), (3L, 4L, 0L)))
  }
}
