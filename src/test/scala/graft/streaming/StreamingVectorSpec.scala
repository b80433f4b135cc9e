package graft.streaming

import graft.SparkSpec
import graft.serving.{DiskKv, OnlineStore, VectorIndex}
import org.apache.spark.sql.functions._

/** Streaming vector upkeep: the sink's versioned backend writes, the
  * cross-stream version base, and in-place index upserts (stale entries
  * must stop matching under their old direction). */
class StreamingVectorSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(rows: (Long, Array[Float])*) =
    rows.toDF("entity", "vector")

  test("VectorIndex.upsert replaces in place; remove evicts") {
    val idx = new VectorIndex(8)
    idx.add(1L, Array(1f, 0f, 0f))
    idx.add(2L, Array(0f, 1f, 0f))
    assert(idx.size == 2)
    // overwrite 1 with the opposite direction
    idx.upsert(1L, Array(-1f, 0f, 0f))
    assert(idx.size == 2)
    val top = idx.nearest(Array(1f, 0f, 0f), 1)
    assert(top.head._1 == 2L, s"stale vector still matching: $top")
    val neg = idx.nearest(Array(-1f, 0f, 0f), 1)
    assert(neg.head._1 == 1L && neg.head._2 > 0.999)
    assert(idx.remove(2L) && idx.size == 1)
    assert(!idx.remove(99L))
  }

  test("vectorSink: versioned backend writes + a second stream's overwrites " +
    "win via versionBase; a built index is upserted in place") {
    val tmp = graft.TempDirs.create("svec").toString
    val kvDir = s"$tmp/kv"
    def kv() = new DiskKv(kvDir)
    val store = new OnlineStore(kv())
    // two initial files → two micro-batches
    vecs(1L -> Array(1f, 0f, 0f, 0f), 2L -> Array(0f, 1f, 0f, 0f))
      .repartition(1).write.parquet(s"$tmp/in1")
    vecs(3L -> Array(0f, 0f, 1f, 0f))
      .repartition(1).write.mode("append").parquet(s"$tmp/in1")
    def stream(in: String) = spark.readStream
      .schema("entity long, vector array<float>")
      .option("maxFilesPerTrigger", 1).parquet(in)
    val q1 = StreamingOnline.vectorSink(stream(s"$tmp/in1"), "f",
      () => kv(), s"$tmp/ckpt1", versionBase = 0L,
      indexSubscriber = Some(store))
    try q1.processAllAvailable() finally q1.stop()
    // scan path current immediately
    assert(store.nearest("f", Array(1f, 0f, 0f, 0f), 1).head._1 == 1L)
    // build the serving index, THEN stream an overwrite: id 1 flips to -x
    store.buildIndex("f", numPlanes = 8)
    vecs(1L -> Array(-1f, 0f, 0f, 0f), 4L -> Array(0f, 0f, 0f, 1f))
      .repartition(1).write.parquet(s"$tmp/in2")
    val q2 = StreamingOnline.vectorSink(stream(s"$tmp/in2"), "f",
      () => kv(), s"$tmp/ckpt2", versionBase = 1000L,
      indexSubscriber = Some(store))
    try q2.processAllAvailable() finally q2.stop()
    // INDEXED nearest reflects the overwrite: old direction no longer
    // returns id 1 at ~1.0; new direction and the new id both serve
    val old = store.nearest("f", Array(1f, 0f, 0f, 0f), 1)
    assert(old.head._1 != 1L || old.head._2 < 0.5,
      s"stale indexed vector still matching: $old")
    assert(store.nearest("f", Array(-1f, 0f, 0f, 0f), 1).head._1 == 1L)
    assert(store.nearest("f", Array(0f, 0f, 0f, 1f), 1).head._1 == 4L)
    // backend state agrees (the version base ordered the overwrite last)
    val stored = kv().scan(OnlineStore.vectorTable("f")).toMap
    assert(stored.size == 4)
  }
}
