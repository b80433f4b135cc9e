package graft.streaming

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.serving.DiskKv
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, PathFilter}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, HDFSMetadataLog}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** The contract Spark's checkpoint writers rely on, held by
  * [[LocalCheckpointFiles]] on `file:` paths, and its installation by
  * [[StreamRun.start]]. */
class LocalCheckpointFilesSpec extends SparkSpec {
  private val conf = new Configuration()

  private def fresh(): (java.nio.file.Path, LocalCheckpointFiles) = {
    val dir = graft.TempDirs.create("graft_lcf")
    (dir, new LocalCheckpointFiles(new Path(dir.toUri), conf))
  }
  private def names(dir: java.nio.file.Path): Set[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSet finally s.close()
  }
  private def write(fm: CheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }
  private def read(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), UTF_8)

  test("a file is visible only after close, and cancel leaves nothing") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "0")
    val out = fm.createAtomic(p, overwriteIfPossible = false)
    out.write("offsets".getBytes(UTF_8))
    out.flush()
    assert(!fm.exists(p) && !Files.exists(dir.resolve("0")))
    assert(names(dir).forall(_.startsWith(".")), names(dir))
    out.close()
    assert(fm.exists(p) && read(dir.resolve("0")) == "offsets")
    assert(names(dir) == Set("0"))

    val c = fm.createAtomic(new Path(dir.toUri.toString, "1"), overwriteIfPossible = false)
    c.write("never published".getBytes(UTF_8))
    c.cancel()
    c.close() // after cancel: a no-op, publishes nothing
    assert(names(dir) == Set("0"))
  }

  test("no-overwrite on an existing target throws Hadoop's " +
    "FileAlreadyExistsException and keeps the target") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "0")
    write(fm, p, "first", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "second", overwrite = false)
    }
    assert(read(dir.resolve("0")) == "first")
    assert(names(dir) == Set("0"), "the failed publish must drop its temp file")
  }

  test("overwrite replaces the target and removes a stale .crc; delete " +
    "removes the file and its .crc, and a missing path is a no-op") {
    val (dir, fm) = fresh()
    val p = new Path(dir.toUri.toString, "1.delta")
    write(fm, p, "old", overwrite = false)
    Files.write(dir.resolve(".1.delta.crc"), Array[Byte](1, 2, 3))
    write(fm, p, "new", overwrite = true)
    assert(read(dir.resolve("1.delta")) == "new")
    assert(names(dir) == Set("1.delta"))

    Files.write(dir.resolve(".1.delta.crc"), Array[Byte](1, 2, 3))
    fm.delete(p)
    assert(names(dir).isEmpty)
    fm.delete(p)
    fm.delete(new Path(dir.toUri.toString, "no/such/dir"))
  }

  test("list with Spark's batch-file filter skips a planted temp orphan; " +
    "open reads what was published") {
    val (dir, fm) = fresh()
    val root = dir.toUri.toString
    write(fm, new Path(root, "0"), "v0", overwrite = false)
    write(fm, new Path(root, "1"), "v1", overwrite = false)
    // what a crash in the middle of a publish leaves behind
    Files.write(dir.resolve(".2.5f1e4c1a-0000-4000-8000-000000000000.tmp"),
      "torn".getBytes(UTF_8))
    class Log extends HDFSMetadataLog[String](spark, dir.resolve("log").toString) {
      def filter: PathFilter = batchFilesFilter
    }
    assert(fm.list(new Path(root), new Log().filter).map(_.getPath.getName).sorted
      .toSeq == Seq("0", "1"))
    val in = fm.open(new Path(root, "1"))
    try assert(new String(in.readAllBytes(), UTF_8) == "v1") finally in.close()
    intercept[java.io.FileNotFoundException](fm.open(new Path(root, "2")))
  }

  test("a path without a scheme is local; a non-file scheme gets Spark's " +
    "own manager") {
    val dir = graft.TempDirs.create("graft_lcf")
    val bare = new LocalCheckpointFiles(new Path(dir.toString), conf)
    assert(bare.isLocal)
    assert(bare.createCheckpointDirectory().toUri.getScheme == "file")

    val other = new Configuration()
    other.set("fs.lcftest.impl", classOf[org.apache.hadoop.fs.RawLocalFileSystem].getName)
    other.setBoolean("fs.lcftest.impl.disable.cache", true)
    other.set(LocalCheckpointFiles.ConfKey, classOf[LocalCheckpointFiles].getName)
    val remote = new Path("lcftest:///ckpt")
    val fm = CheckpointFileManager.create(remote, other)
    assert(fm.isInstanceOf[LocalCheckpointFiles])
    val sparkChoice = new Configuration(other)
    sparkChoice.unset(LocalCheckpointFiles.ConfKey)
    assert(fm.asInstanceOf[LocalCheckpointFiles].impl.getClass ==
      CheckpointFileManager.create(remote, sparkChoice).getClass)
  }

  /** Run `body` with the shared session's manager class set to `value`
    * (None = unset), restoring what was there after. */
  private def withManagerConf(value: Option[String])(body: => Unit): Unit = {
    val before = spark.conf.getOption(LocalCheckpointFiles.ConfKey)
    value.fold(spark.conf.unset(LocalCheckpointFiles.ConfKey))(
      spark.conf.set(LocalCheckpointFiles.ConfKey, _))
    try body
    finally before.fold(spark.conf.unset(LocalCheckpointFiles.ConfKey))(
      spark.conf.set(LocalCheckpointFiles.ConfKey, _))
  }

  /** Drains a three-row memory stream through [[StreamRun.drain]] and
    * returns what `graft.StreamRun` logged at INFO meanwhile, with the
    * query's name and checkpoint dir. */
  private def runOnce(): (Seq[String], String, String) = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val logger = LoggerContext.getContext(false).getLogger("graft.StreamRun")
    val appender = new AbstractAppender("lcf-spec", null, null, true,
        org.apache.logging.log4j.core.config.Property.EMPTY_ARRAY) {
      def append(e: LogEvent): Unit = lines.add(e.getMessage.getFormattedMessage): Unit
    }
    appender.start()
    val level = logger.getLevel
    logger.addAppender(appender)
    logger.setLevel(Level.INFO)
    val in = MemoryStream[Long]
    in.addData(1L, 2L, 3L)
    val table = s"lcf_${System.nanoTime()}"
    val ckpt = graft.TempDirs.create("graft_lcf_ckpt").toString
    try StreamRun.drain(in.toDF().writeStream.format("memory").queryName(table)
      .option("checkpointLocation", ckpt))
    finally {
      logger.removeAppender(appender)
      logger.setLevel(level)
    }
    assert(spark.table(table).count() == 3)
    assert(Files.isDirectory(Paths.get(ckpt, "commits")))
    (lines.asScala.toSeq, table, ckpt)
  }

  test("StreamRun.start installs LocalCheckpointFiles on a session that " +
    "names no class, leaves a named class unchanged, and logs one line per " +
    "query with its name, checkpoint root and manager class") {
    withManagerConf(None) {
      val (lines, table, ckpt) = runOnce()
      assert(spark.conf.getOption(LocalCheckpointFiles.ConfKey) ==
        Some(classOf[LocalCheckpointFiles].getName))
      assert(lines.size == 1, lines)
      assert(lines.head.contains(table) && lines.head.contains(ckpt) &&
        lines.head.contains(classOf[LocalCheckpointFiles].getName), lines.head)
    }
    val own = "org.apache.spark.sql.execution.streaming.checkpointing." +
      "FileSystemBasedCheckpointFileManager"
    withManagerConf(Some(own)) {
      val (lines, _, _) = runOnce()
      assert(spark.conf.getOption(LocalCheckpointFiles.ConfKey) == Some(own))
      assert(lines.size == 1 && lines.head.contains(own), lines)
    }
  }

  test("the RocksDB state store commits and restores its state through " +
    "LocalCheckpointFiles") {
    import spark.implicits._
    val key = "spark.sql.streaming.stateStore.providerClass"
    val before = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val tmp = graft.TempDirs.create("graft_lcf_rocks").toString
      val base = 1700000000000L
      def stage(rows: Seq[(Long, Double, Long)]): Unit = {
        rows.map { case (e, v, t) => (e, v, new java.sql.Timestamp(t)) }
          .toDF("entity", "value", "ts")
          .coalesce(1).write.mode("append").parquet(s"$tmp/in")
        Thread.sleep(5) // distinct mtimes keep file-source order = write order
      }
      def drain(): Unit = StreamRun.await(StreamingOnline.onlineSink(
        StreamingLatest.latestValueStream(spark,
          StreamingLatest.readTripleStream(spark, s"$tmp/in", 1)).toDF(),
        "rocks", () => new DiskKv(s"$tmp/kv"), s"$tmp/ckpt", availableNow = true))
      for (k <- 1 to 2) stage((0L until 5L).map(e => (e, k * 10.0 + e, base + k * 60000L)))
      drain()
      // a restarted query over older rows: only the restored state knows
      // they are stale
      stage((0L until 5L).map(e => (e, 999.0, base)))
      drain()
      val got = new DiskKv(s"$tmp/kv").scan("rocks")
        .map { case (e, v) => e -> v.asInstanceOf[Row].getDouble(0) }.toMap
      assert(got == (0L until 5L).map(e => (e: Any) -> (20.0 + e)).toMap)
    } finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
