package graft.serving

import graft.SparkSpec

/** A custom [[KvBackend]] substitutes transparently behind [[OnlineStore]],
  * the executor-side bulk load streams every row without the driver, and the
  * default [[DiskKv]] serves what partitions wrote. */
class BackendSpec extends SparkSpec {
  import spark.implicits._

  test("OnlineStore routes load/get through the backend seam") {
    val calls = scala.collection.mutable.ArrayBuffer.empty[String]
    val stub = new KvBackend {
      val inner = new InProcessKv
      def createTable(f: String): Unit = { calls += s"create:$f"; inner.createTable(f) }
      def putBatch(f: String, rows: Iterator[(Any, Any)]): Unit = {
        calls += s"put:$f"; inner.putBatch(f, rows)
      }
      def get(f: String, e: Any): Option[Any] = inner.get(f, e)
      def scan(f: String): Iterator[(Any, Any)] = inner.scan(f)
    }
    val store = new OnlineStore(stub)
    store.load("f1", Seq((1L, 2.0), (2L, 3.0)).toDF("entity", "value"))
    assert(store.get("f1", 1L).contains(2.0))
    assert(store.get("f1", 99L).isEmpty)
    assert(calls.toList == List("create:f1", "put:f1"))
  }

  test("serving TTL: getFresh masks stale values, inclusive boundary") {
    import java.sql.Timestamp
    // both backends: the driver-map special case and the streamed default
    for (backend <- Seq(new InProcessKv, OnlineStore.defaultBackend())) {
      val store = new OnlineStore(backend)
      store.loadWithTs("f_ts", Seq(
        (1L, 10.0, Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, 20.0, Timestamp.valueOf("2024-01-05 00:00:00"))
      ).toDF("entity", "value", "ts"))
      val asOf = Timestamp.valueOf("2024-01-06 00:00:00").getTime
      val day = 86400000L
      assert(store.getFresh("f_ts", 2L, 2 * day, asOf).contains(20.0))
      assert(store.getFresh("f_ts", 1L, 2 * day, asOf).isEmpty)  // 5d stale
      assert(store.getFresh("f_ts", 1L, 5 * day, asOf).contains(10.0)) // == bound
      assert(store.getFresh("f_ts", 99L, day, asOf).isEmpty)
    }
  }

  test("bulkLoad writes executor-side through the factory") {
    BackendSpec.shared = new InProcessKv
    OnlineBulkLoad.bulkLoad(() => BackendSpec.shared, "f2",
      (0L until 100L).map(i => (i, i * 0.5)).toDF("entity", "value"))
    assert(BackendSpec.shared.get("f2", 40L).contains(20.0))
    assert((0L until 100L).forall(i => BackendSpec.shared.get("f2", i).isDefined))
  }

  test("DiskKv: put/get/scan round-trip, segments merge across writers") {
    val root = graft.TempDirs.create("diskkv").toString
    val a = new DiskKv(root, buckets = 8)
    a.createTable("t")
    a.putBatch("t", Iterator(1L -> "one", 2L -> "two"))
    // a SECOND client on the same root (the executor-side shape)
    val b = new DiskKv(root, buckets = 8)
    b.putBatch("t", Iterator(3L -> "three"))
    assert(a.get("t", 1L).contains("one"))
    assert(a.get("t", 3L).contains("three")) // a sees b's segment
    assert(a.get("t", 9L).isEmpty)
    assert(a.scan("t").toMap == Map(1L -> "one", 2L -> "two", 3L -> "three"))
    // a fresh client (≡ restarted server) reads the same state from disk
    assert(new DiskKv(root, buckets = 8).scan("t").size == 3)
  }

  test("DiskKv crash safety: a writer killed mid-segment (truncated .tmp " +
    "orphan) never poisons reads; compact sweeps the orphan") {
    import java.nio.file.{Files => JF, Paths}
    val root = graft.TempDirs.create("diskkv-c").toString
    val kv = new DiskKv(root, buckets = 2)
    kv.createTable("t")
    kv.putBatch("t", Iterator(1L -> "a", 2L -> "b", 3L -> "c"))
    // plant what a halted JVM leaves: truncated in-flight segment bytes
    // under the .tmp- prefix in every bucket dir (writeSegment publishes
    // only via atomic rename, so a partial write can ONLY exist as .tmp-)
    val tableDir = {
      val s = JF.list(Paths.get(root))
      try s.iterator().next() finally s.close()
    }
    val bucketDirs = {
      val s = JF.list(tableDir)
      try {
        val b = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        val it = s.iterator(); while (it.hasNext) b += it.next()
        b.toSeq
      } finally s.close()
    }
    assert(bucketDirs.nonEmpty)
    bucketDirs.foreach { d =>
      JF.write(d.resolve(".tmp-dead"), Array[Byte](0, 0, 1)) // torn bytes
    }
    // reads skip the orphans instead of dying on EOFException
    assert(kv.scan("t").toMap == Map(1L -> "a", 2L -> "b", 3L -> "c"))
    assert(new DiskKv(root, buckets = 2).get("t", 2L).contains("b"))
    // compact sweeps them
    kv.putBatch("t", Iterator(1L -> "a2")) // second segment → compactable
    kv.compact("t")
    bucketDirs.foreach { d =>
      assert(!JF.exists(d.resolve(".tmp-dead")), s"orphan survived in $d")
    }
    assert(kv.scan("t").toMap == Map(1L -> "a2", 2L -> "b", 3L -> "c"))
  }

  test("delete: tombstone hides the key on DiskKv, survives compact and restart") {
    val root = graft.TempDirs.create("diskkv-d").toString
    val kv = new DiskKv(root, buckets = 4)
    kv.createTable("t")
    kv.putBatch("t", Iterator(1L -> "a", 2L -> "b", 3L -> "c"))
    kv.delete("t", 2L)
    assert(kv.get("t", 2L).isEmpty)
    assert(kv.scan("t").toMap == Map(1L -> "a", 3L -> "c"))
    // the tombstone must keep masking after segment merge AND for a fresh
    // client (a resurrected key would be a silent erasure violation)
    kv.compact("t")
    val fresh = new DiskKv(root, buckets = 4)
    assert(fresh.get("t", 2L).isEmpty)
    assert(fresh.scan("t").toMap == Map(1L -> "a", 3L -> "c"))
    // re-insert after delete works (tombstone is just another version)
    kv.putBatch("t", Iterator(2L -> "b2"))
    assert(kv.get("t", 2L).contains("b2"))
    // InProcessKv: native removal
    val mem = new InProcessKv
    mem.putBatch("t", Iterator(1L -> "x"))
    mem.delete("t", 1L)
    assert(mem.get("t", 1L).isEmpty && mem.scan("t").isEmpty)
  }

  test("compact physically erases tombstoned keys from segment bytes") {
    val root = graft.TempDirs.create("diskkv-e").toString
    val kv = new DiskKv(root, buckets = 2)
    kv.createTable("t")
    kv.putBatch("t", Iterator("kept_entity" -> "a", "erased_entity" -> "b"))
    kv.delete("t", "erased_entity")
    def segBytes: String = {
      val sb = new StringBuilder
      java.nio.file.Files.walk(java.nio.file.Paths.get(root)).forEach { p =>
        if (java.nio.file.Files.isRegularFile(p))
          sb.append(new String(java.nio.file.Files.readAllBytes(p), "ISO-8859-1"))
      }
      sb.toString
    }
    // pre-compact the identifier is still on disk (tombstone is a record)
    assert(segBytes.contains("erased_entity"))
    kv.compact("t")
    // post-compact the key is GONE from every byte of every segment —
    // the physical half of right-to-erasure, not just read masking
    assert(!segBytes.contains("erased_entity"))
    assert(segBytes.contains("kept_entity"))
    // reads unchanged, fresh client agrees, re-insert still works
    assert(kv.get("t", "erased_entity").isEmpty)
    assert(new DiskKv(root, buckets = 2).scan("t").toMap ==
      Map("kept_entity" -> "a"))
    kv.putBatch("t", Iterator("erased_entity" -> "b2"))
    assert(kv.get("t", "erased_entity").contains("b2"))
  }

  test("DiskKv compact: one segment per bucket, upsert history preserved") {
    val root = graft.TempDirs.create("diskkv-c").toString
    val kv = new DiskKv(root, buckets = 4)
    kv.createTable("t")
    // three batches, key 1 overwritten twice — last write must win through
    // the compaction
    kv.putBatch("t", Iterator(1L -> "v1", 2L -> "a", 5L -> "x"))
    kv.putBatch("t", Iterator(1L -> "v2", 3L -> "b"))
    kv.putBatch("t", Iterator(1L -> "v3"))
    def segsPerBucket: Seq[Int] = {
      val d = new java.io.File(root).listFiles().filter(_.isDirectory).head
      d.listFiles().filter(_.isDirectory).toSeq
        .map(_.listFiles().count(_.getName.startsWith("seg-")))
    }
    val before = kv.scan("t").toMap
    // key 1's bucket saw three batches -> a chain of >= 3 segments
    assert(before(1L) == "v3" && segsPerBucket.max >= 3)
    kv.compact("t")
    assert(segsPerBucket.max == 1) // every chain collapsed
    assert(kv.scan("t").toMap == before)
    assert(kv.get("t", 1L).contains("v3"))
    // a fresh client reads the compacted state identically
    assert(new DiskKv(root, buckets = 4).scan("t").toMap == before)
    // writes after compaction still win over the merged segment
    kv.putBatch("t", Iterator(1L -> "v4"))
    assert(kv.get("t", 1L).contains("v4"))
  }

  test("putBatchVersioned: version order beats clock order across clients") {
    val root = graft.TempDirs.create("diskkv-v").toString
    val a = new DiskKv(root, buckets = 4)
    a.createTable("t")
    // the LATER version is written FIRST (a fast JVM whose segment clock
    // ran ahead) — version must still win
    a.putBatchVersioned("t", 7L, Iterator(1L -> "v7"))
    new DiskKv(root, buckets = 4)
      .putBatchVersioned("t", 3L, Iterator(1L -> "v3"))
    assert(a.get("t", 1L).contains("v7"))
    // versioned writes overlay the unversioned bulk base even when the
    // base is written afterwards (the documented lifecycle)
    a.putBatch("t", Iterator(1L -> "base", 2L -> "b2"))
    assert(a.get("t", 1L).contains("v7") && a.get("t", 2L).contains("b2"))
    a.compact("t")
    assert(a.get("t", 1L).contains("v7") && a.get("t", 2L).contains("b2"))
  }

  test("default OnlineStore streams the load: no driver collect path") {
    // default backend is DiskKv => ExecutorBackend => bulkLoad route; the
    // materialization has enough rows to span several partitions
    val store = new OnlineStore
    store.load("f3",
      (0L until 500L).map(i => (i, i * 2.0)).toDF("entity", "value")
        .repartition(7))
    assert((0L until 500L).forall(i => store.get("f3", i).contains(i * 2.0)))
    // vectors take the identical route and decode on scan
    store.loadVectors("v3", Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("entity", "vector"))
    assert(store.nearest("v3", Array(1.0f, 0.0f), 1).head._1 == 1L)
    store.buildIndex("v3")
    assert(store.nearest("v3", Array(0.0f, 1.0f), 1).head._1 == 2L)
  }
}

object BackendSpec {
  /** JVM-shared so local-mode executor threads and the assertion see the
    * same store (a real deployment's factory opens a network client). */
  @transient var shared: InProcessKv = _
}
