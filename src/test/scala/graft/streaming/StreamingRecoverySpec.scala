package graft.streaming

import java.nio.file.Files
import java.util.concurrent.TimeUnit

import graft.SparkSpec
import graft.serving.DiskKv
import org.apache.spark.sql.DataFrame

/** Streaming restart/recovery under a REAL kill: a subprocess
  * ([[StreamKillRun]]) runs the checkpointed stream and `Runtime.halt`s
  * itself mid-ingest (no graceful stop — in-flight batch work, possibly
  * truncated sink segments); this JVM restarts the same sink over the
  * same checkpoint and must land on the uninterrupted run's exact answer.
  * This is the proof a perpetual 100 TB ingest lives on: checkpoint +
  * idempotent sink ⇒ no loss and no dup across a crash, and the stateful
  * operators (latest-value state, TTL dedup bucket members) resume from
  * the state store instead of re-deriving from scratch. */
class StreamingRecoverySpec extends SparkSpec {

  /** Spawn the kill harness and assert it HALTED (exit 42) rather than
    * drained. Inherits this JVM's --add-opens etc.; overrides the heap
    * (later -Xmx wins). Returns the subprocess log for diagnostics. */
  private def spawnKill(mode: String, inDir: String, outDir: String,
                        ckpt: String, haltAfter: Int, ttlMs: Long): String = {
    import scala.jdk.CollectionConverters._
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.toSeq
    val cmd = Seq(javaBin) ++ inherited ++ Seq("-Xms512m", "-Xmx3g",
      "-cp", System.getProperty("java.class.path"),
      "graft.streaming.StreamKillRun", mode, inDir, outDir, ckpt,
      haltAfter.toString, ttlMs.toString)
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    val proc = pb.start()
    val log = new StringBuilder
    val rd = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    try {
      var line = rd.readLine()
      while (line != null) { log.append(line).append('\n'); line = rd.readLine() }
    } finally rd.close()
    assert(proc.waitFor(240, TimeUnit.SECONDS), "kill subprocess hung")
    assert(proc.exitValue() == 42,
      s"subprocess must be HALTED mid-ingest, exit=${proc.exitValue()}\n$log")
    assert(log.toString.contains("HALTING after"), log.toString)
    log.toString
  }

  /** Committed micro-batches in a checkpoint (files under commits/). */
  private def commitCount(ckpt: String): Int = {
    val d = java.nio.file.Paths.get(ckpt, "commits")
    if (!Files.isDirectory(d)) 0
    else {
      val s = Files.list(d)
      try s.iterator().asScala.count(p =>
        p.getFileName.toString.forall(_.isDigit))
      finally s.close()
    }
  }
  private implicit class JIter[T](it: java.util.Iterator[T]) {
    def asScala: Iterator[T] = new Iterator[T] {
      def hasNext: Boolean = it.hasNext
      def next(): T = it.next()
    }
  }

  test("latest-value stream killed mid-ingest (real JVM halt) resumes from " +
    "checkpoint to the uninterrupted answer — no loss, no dup, and the " +
    "killed writer's partial DiskKv segments don't poison reads") {
    val tmp = graft.TempDirs.create("graft_rec_lv").toString
    import spark.implicits._
    // 6 one-partition appends → 6 files → 6 one-file micro-batches; each
    // entity's rows span many files so the latest-state must cross the kill
    val base = 1700000000000L
    for (k <- 0 until 6) {
      (0 until 100).map { j =>
        val i = k * 100 + j
        (i % 50L, i.toDouble, new java.sql.Timestamp(base + i * 60000L))
      }.toDF("entity", "value", "ts")
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      Thread.sleep(5) // distinct mtimes keep file-source order = write order
    }
    def drainAll(kv: String, ckpt: String): Unit = StreamRun.await(
      StreamingOnline.onlineSink(
        StreamingLatest.latestValueStream(spark,
          StreamingLatest.readTripleStream(spark, s"$tmp/in", 1)).toDF(),
        "rec_feat", () => new DiskKv(kv), ckpt, availableNow = true))
    // the uninterrupted truth
    drainAll(s"$tmp/kv_base", s"$tmp/ckpt_base")
    val expected = new DiskKv(s"$tmp/kv_base").scan("rec_feat").toMap
    assert(expected.size == 50)
    // kill mid-ingest: halts on the 2nd committed data batch of 6
    spawnKill("latest", s"$tmp/in", s"$tmp/kv", s"$tmp/ckpt", 2, 0L)
    val committedAtKill = commitCount(s"$tmp/ckpt")
    assert(committedAtKill >= 1 && committedAtKill < 6,
      s"kill must land mid-ingest, commits=$committedAtKill")
    // restart over the SAME checkpoint + store; drain the remainder
    drainAll(s"$tmp/kv", s"$tmp/ckpt")
    val got = new DiskKv(s"$tmp/kv").scan("rec_feat").toMap
    assert(got == expected,
      s"recovered state diverges: ${got.size} vs ${expected.size} entities")
  }

  test("TTL dedup stream killed mid-ingest resumes from checkpoint: pair " +
    "set equals the uninterrupted run, including pairs SPANNING the kill " +
    "(pre-kill member state restored from the state store)") {
    val tmp = graft.TempDirs.create("graft_rec_ttl").toString
    import spark.implicits._
    val base = 1700000000000L
    val hourMs = 3600000L
    val ttlMs = 48L * hourMs
    // file k = docs k*100..k*100+99 at hour k; texts unique per doc except
    // planted twins: (5, 505) spans files 0↔5 (across the kill at batch 2),
    // (110, 112) sits inside file 1, (210, 410) spans 2↔4
    def textOf(id: Long): String = id match {
      case 505L => textOf(5L)
      case 112L => textOf(110L)
      case 410L => textOf(210L)
      case _ => s"the quick brown fox $id jumps over the lazy dog " +
        s"document body ${id * 31} with enough tokens ${id * 7} to shingle"
    }
    for (k <- 0 until 6) {
      (0 until 100).map { j =>
        val id = k * 100L + j
        (id, new java.sql.Timestamp(base + k * hourMs), textOf(id))
      }.toDF("doc_id", "ts", "text")
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      Thread.sleep(5)
    }
    def drainAll(out: String, ckpt: String): Unit = StreamRun.await(
      StreamingDedup.dupPairsStreamTtl(spark,
          StreamingDedup.bandedDocsTs(
            spark.readStream
              .schema("doc_id long, ts timestamp, text string")
              .option("maxFilesPerTrigger", 1).parquet(s"$tmp/in"),
            "text", "doc_id", "ts").withWatermark("ts", "0 seconds"),
          ttlMs)
        .toDF()
        .writeStream.outputMode("update")
        .option("checkpointLocation", ckpt)
        .foreachBatch { (batch: DataFrame, _: Long) =>
          batch.write.mode("append").parquet(out)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start())
    def pairsOf(out: String): Set[(Long, Long)] =
      spark.read.parquet(out).select("idA", "idB").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the uninterrupted truth
    drainAll(s"$tmp/out_base", s"$tmp/ckpt_base")
    val expected = pairsOf(s"$tmp/out_base")
    assert(expected.contains((5L, 505L)) && expected.contains((110L, 112L))
      && expected.contains((210L, 410L)), s"planted twins missing: $expected")
    // kill on the 2nd data batch — before doc 505's file
    spawnKill("ttl", s"$tmp/in", s"$tmp/out", s"$tmp/ckpt", 2, ttlMs)
    val committedAtKill = commitCount(s"$tmp/ckpt")
    assert(committedAtKill >= 1 && committedAtKill < 6,
      s"kill must land mid-ingest, commits=$committedAtKill")
    // restart: the (5, 505) pair is only findable if doc 5's bucket
    // membership (ingested pre-kill) was RESTORED from the state store
    drainAll(s"$tmp/out", s"$tmp/ckpt")
    val got = pairsOf(s"$tmp/out")
    assert(got == expected,
      s"recovered pairs diverge: missing=${expected -- got} extra=${got -- expected}")
  }
}
