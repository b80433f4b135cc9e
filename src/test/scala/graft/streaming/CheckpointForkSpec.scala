package graft.streaming

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.serving.DiskKv
import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile

/** A checkpointed stream on a local path starts no Hadoop shell process.
  * Without Hadoop's native library, Spark's default checkpoint manager
  * starts a `chmod` per file created and a `readlink` per rename, and
  * Hadoop's local file statuses start an `ls` when asked for permissions.
  * An in-process JFR recording of `jdk.ProcessStart` around a three-file
  * `onlineSink` drain counts every process the JVM starts meanwhile. */
class CheckpointForkSpec extends SparkSpec {
  import spark.implicits._

  test("a three-file onlineSink drain into a DiskKv starts no chmod, " +
    "readlink or ls process") {
    val tmp = graft.TempDirs.create("graft_forks").toString
    // stage the input before recording: a Spark parquet write forks
    // `chmod` for its own files
    for (k <- 0 until 3) {
      (0 until 50).map { j =>
        (j % 20L, (k * 50 + j).toDouble, new Timestamp(1700000000000L + (k * 50 + j) * 60000L))
      }.toDF("entity", "value", "ts")
        .coalesce(1).write.mode("append").parquet(s"$tmp/in")
      Thread.sleep(5) // distinct mtimes keep file-source order = write order
    }
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try StreamRun.await(StreamingOnline.onlineSink(
      StreamingLatest.latestValueStream(spark,
        StreamingLatest.readTripleStream(spark, s"$tmp/in", 1)).toDF(),
      "fork_feat", () => new DiskKv(s"$tmp/kv"), s"$tmp/ckpt",
      availableNow = true))
    finally rec.stop()
    val jfr = java.nio.file.Paths.get(tmp, "forks.jfr")
    rec.dump(jfr)
    rec.close()
    val started = RecordingFile.readAllEvents(jfr).asScala.toSeq
      .filter(_.getEventType.getName == "jdk.ProcessStart")
      .map(e => (e.getString("command"),
        Option(e.getThread).map(_.getJavaName).getOrElse("?")))
    val shell = started.filter { case (cmd, _) =>
      Set("chmod", "readlink", "ls")(new java.io.File(cmd.split(' ').head).getName)
    }
    assert(new DiskKv(s"$tmp/kv").scan("fork_feat").size == 20)
    assert(shell.size == 0,
      s"${shell.size} shell processes started by the drain, e.g.\n" +
        shell.take(5).map { case (c, t) => s"  [$t] $c" }.mkString("\n"))
  }
}
