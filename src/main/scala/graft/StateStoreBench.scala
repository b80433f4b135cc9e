package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Streaming state-store envelope (round-3 verdict stretch #10): measures
  * the stateful latest-value pipeline ([[streaming.StreamingLatest]]) under
  * 10× state growth on both bundled state store providers —
  *
  *  - HDFSBackedStateStoreProvider (default): whole state map resident in
  *    executor memory per partition, snapshot files on checkpoint;
  *  - RocksDBStateStoreProvider: state off-heap in RocksDB, bounded memory,
  *    changelog checkpointing.
  *
  * Workload: N entities × 5 micro-batches, every batch advancing every
  * entity (worst-case churn: each batch reads and rewrites the entire
  * state). The interesting number is the scaling RATIO per provider, not
  * the absolute times — the default store should degrade when state
  * outgrows executor memory, which local[16]×128 GiB cannot reach, so
  * this records the in-memory envelope and documents where the crossover
  * sits rather than claiming one. Output: one JSON line +
  * `BENCH_statestore_c<cpus>.json` in the working directory.
  */
object StateStoreBench {

  private def gen(spark: SparkSession, dir: String, nEnt: Long,
                  batches: Int): Unit = {
    (0 until batches).foreach { b =>
      spark.range(0, nEnt)
        .select(col("id").as("entity"),
          (col("id") % 1000 + b).cast("double").as("value"),
          expr(s"timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, $b)")
            .as("ts"))
        .coalesce(1)
        .write.mode("append").parquet(dir)
    }
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val work = "/tmp/graft_statestore"
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val providers = Seq(
      "hdfs" -> "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider",
      "rocksdb" -> "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val scales = Seq(100000L, 1000000L)

    // inputs once per scale; 5 single-file batches -> 5 micro-batches
    scales.foreach(n => gen(spark, s"$work/in_$n", n, batches = 5))

    def run(providerCls: String, inDir: String, ckpt: String): Double = {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass", providerCls)
      val stream = graft.streaming.StreamingLatest.latestValueStream(spark,
        graft.streaming.StreamingLatest.readTripleStream(spark, inDir,
          maxFilesPerTrigger = 1))
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamRun.start(stream.writeStream
        .format("noop").outputMode("update")
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      q.awaitTermination()
      (System.nanoTime() - t0) / 1e9
    }

    // untimed warm-up (stream machinery + codegen)
    run(providers.head._2, s"$work/in_${scales.head}", s"$work/ckpt_warm")

    val results = for {
      (pname, pcls) <- providers
      n <- scales
    } yield {
      val sec = run(pcls, s"$work/in_$n", s"$work/ckpt_${pname}_$n")
      System.err.println(f"[statestore] $pname%-8s n=$n%8d  $sec%7.2f s")
      (s"${pname}_n$n", sec)
    }
    val m = results.toMap

    // ------------------------------------------- streaming-dedup state
    // Full-history vs TTL state lifecycle at 1×/10× ingest: docs arrive
    // one file per time slice (watermark advances between micro-batches),
    // event times spread 1 doc/second, TTL = 2000 s. Full-history keeps
    // every bucket member forever (state ~ corpus); the TTL matcher
    // prunes members past watermark − ttl and GCs idle buckets, so its
    // steady-state size is ~(arrival rate × ttl) REGARDLESS of corpus
    // length — the envelope the 10× ratio below measures directly.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      providers.head._2)
    val dedupScales = Seq(20000L, 200000L)
    val dedupStats = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Long, Long)]
    for (n <- dedupScales; mode <- Seq("full", "ttl")) {
      val in = s"$work/dedup_in_$n"
      if (mode == "full") { // generate once per scale: 20 time-ordered files
        val files = 20
        val per = n / files
        (0 until files).foreach { f =>
          spark.range(f * per, (f + 1) * per)
            .select(col("id").as("doc_id"),
              expr("timestamp '2024-01-01 00:00:00' + make_interval(0,0,0,0,0,0, id)")
                .as("ts"),
              concat(lit("document body token "), col("id"),
                lit(" salt "), col("id") * 2654435761L % 1000003L).as("text"))
            .coalesce(1).write.mode("append").parquet(in)
        }
      }
      val ckpt = s"$work/dedup_ckpt_${mode}_$n"
      val banded =
        if (mode == "full")
          graft.streaming.StreamingDedup.bandedDocs(
            spark.readStream.schema("doc_id long, ts timestamp, text string")
              .option("maxFilesPerTrigger", 1).parquet(in), "text", "doc_id")
        else
          graft.streaming.StreamingDedup.bandedDocsTs(
            spark.readStream.schema("doc_id long, ts timestamp, text string")
              .option("maxFilesPerTrigger", 1).parquet(in), "text", "doc_id", "ts")
            .withWatermark("ts", "0 seconds")
      val ds =
        if (mode == "full")
          graft.streaming.StreamingDedup.dupPairsStream(spark, banded)
        else
          graft.streaming.StreamingDedup.dupPairsStreamTtl(spark, banded,
            ttlMs = 2000L * 1000)
      val t0 = System.nanoTime()
      val q = graft.streaming.StreamRun.start(
        ds.writeStream.format("noop").outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      val prog = q.recentProgress.reverse.find(_.stateOperators.nonEmpty).get
        .stateOperators(0)
      dedupStats += (s"${mode}_n$n" ->
        ((sec, prog.numRowsTotal, prog.memoryUsedBytes)))
      System.err.println(f"[statestore] dedup_$mode%-5s n=$n%8d  $sec%7.2f s  " +
        f"stateRows=${prog.numRowsTotal}%8d  stateBytes=${prog.memoryUsedBytes}%10d")
    }
    def ded(k: String) = dedupStats(k)

    // ------------------------------------------- restart/recovery row
    // Stop the TTL stream mid-ingest (after ~6 of 20 one-file batches
    // commit), restart from the same checkpoint with AvailableNow, and
    // record that the final state envelope RESUMES — rows/bytes at the
    // same rate×ttl point as the uninterrupted run above. (The
    // correctness twin — a real JVM halt, no graceful stop — is
    // StreamingRecoverySpec; this row is the measured envelope.)
    val rn = dedupScales.head
    val rckpt = s"$work/dedup_ckpt_restart_$rn"
    def ttlStream() = graft.streaming.StreamingDedup.dupPairsStreamTtl(spark,
      graft.streaming.StreamingDedup.bandedDocsTs(
        spark.readStream.schema("doc_id long, ts timestamp, text string")
          .option("maxFilesPerTrigger", 1).parquet(s"$work/dedup_in_$rn"),
        "text", "doc_id", "ts").withWatermark("ts", "0 seconds"),
      ttlMs = 2000L * 1000)
    val q1 = graft.streaming.StreamRun.start( // continuous: gets stopped
      ttlStream().writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", rckpt))
    val pollDeadline = System.currentTimeMillis() + 120000L
    while (q1.recentProgress.count(_.numInputRows > 0) < 6 &&
           q1.exception.isEmpty &&
           System.currentTimeMillis() < pollDeadline) Thread.sleep(5)
    q1.exception.foreach(throw _) // a failed stream must not read as a hang
    require(System.currentTimeMillis() < pollDeadline,
      "restart row: first stream made no progress within 120s")
    q1.stop() // mid-ingest
    val committedAtStop = {
      val d = java.nio.file.Paths.get(rckpt, "commits")
      if (!java.nio.file.Files.isDirectory(d)) 0L
      else {
        val s = java.nio.file.Files.list(d)
        try s.count() finally s.close()
      }
    }
    val t0r = System.nanoTime()
    val q2 = graft.streaming.StreamRun.start(
      ttlStream().writeStream.format("noop").outputMode("update")
        .option("checkpointLocation", rckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()))
    q2.awaitTermination()
    val restartSec = (System.nanoTime() - t0r) / 1e9
    val rstate = q2.recentProgress.reverse.find(_.stateOperators.nonEmpty)
      .map(_.stateOperators(0))
    val restartRows = rstate.map(_.numRowsTotal).getOrElse(-1L)
    val restartBytes = rstate.map(_.memoryUsedBytes).getOrElse(-1L)
    val restartBytesVsUninterrupted =
      restartBytes.toDouble / math.max(ded(s"ttl_n$rn")._3, 1L)
    System.err.println(f"[statestore] dedup_ttl RESTART n=$rn%8d " +
      f"committed_at_stop=$committedAtStop resumed_in=$restartSec%.2f s " +
      f"stateRows=$restartRows stateBytes=$restartBytes " +
      f"vs_uninterrupted=$restartBytesVsUninterrupted%.2f")
    // the envelope claim: TTL state bytes grow FAR slower than corpus
    // (bounded by rate×ttl + key-space saturation), full-history tracks it
    val ttlBytesRatio = ded(s"ttl_n${dedupScales(1)}")._3.toDouble /
      math.max(ded(s"ttl_n${dedupScales.head}")._3, 1L)
    val fullBytesRatio = ded(s"full_n${dedupScales(1)}")._3.toDouble /
      math.max(ded(s"full_n${dedupScales.head}")._3, 1L)
    val hdfsRatio = m(s"hdfs_n${scales(1)}") / m(s"hdfs_n${scales.head}")
    val rocksRatio = m(s"rocksdb_n${scales(1)}") / m(s"rocksdb_n${scales.head}")
    val json =
      s"""{"metric":"statestore_envelope","batches":5,""" +
        results.map { case (k, v) => f""""$k":$v%.3f""" }.mkString(",") +
        f""","hdfs_scale_ratio":$hdfsRatio%.2f,"rocksdb_scale_ratio":$rocksRatio%.2f,""" +
        s""""streaming_dedup_state":${dedupStats.map {
          case (k, (sec, rows, bytes)) =>
            f""""$k":{"sec":$sec%.2f,"state_rows":$rows,"state_bytes":$bytes}"""
        }.mkString("{", ",", "}")},""" +
        f""""dedup_ttl_bytes_ratio_x10":$ttlBytesRatio%.2f,""" +
        f""""dedup_full_bytes_ratio_x10":$fullBytesRatio%.2f,""" +
        s""""dedup_ttl_restart":{"committed_at_stop":$committedAtStop,""" +
        f""""resume_sec":$restartSec%.2f,"state_rows":$restartRows,""" +
        f""""state_bytes":$restartBytes,""" +
        f""""bytes_vs_uninterrupted":$restartBytesVsUninterrupted%.2f},""" +
        s""""note":"dedup_ttl_restart.resume_sec covers state-store re-init + snapshot/delta reload per partition PLUS draining the remaining batches - it exceeds the uninterrupted wall when the stop lands late (committed_at_stop of 20); the envelope claim is bytes_vs_uninterrupted = 1. 10x entities, every batch rewrites all state; both providers in-memory-feasible at this scale - crossover to RocksDB is when per-partition state exceeds executor heap (HDFS store holds the full map resident; RocksDB stays bounded). streaming_dedup_state: 20 time-ordered files, 1 doc/s event time, ttl=2000s - TTL-mode state is bounded by rate*ttl + idle-bucket GC while full-history tracks the corpus"}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"BENCH_statestore_c$cpus.json"), json + "\n")
    spark.stop()
  }
}
