package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

final case class Config(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, small: Boolean, dataDir: String,
                        warmDataDir: String, expectedPath: String,
                        workDir: String, out: String, originMs: Long)

final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        metrics: Seq[(String, Double)],
                        tracer: Tracer,
                        traceSpans: Seq[Span] = Nil,
                        traceFields: Seq[(String, String)] = Nil)

/** Benchmark entry point, launched by `run.py`.
  *
  *   perfbench.Main run --workload W --seed N --seconds S --trace 0|1
  *       --small 0|1 --data DIR --warm-data DIR --expected FILE
  *       --work DIR --out FILE --origin-ms T
  *   perfbench.Main digests <dumpDir> <out.json> <query,...>
  *
  * `run` writes the measured values to --out (`run.py` turns them into
  * the declared metrics); `digests` computes the expected digests from a
  * `graft.Verify` dump whose outputs passed the DuckDB oracle. */
object Main {
  /** Progress line on stderr, with seconds since the run began. */
  def note(cfg: Config, msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.currentTimeMillis() - cfg.originMs) / 1000.0}%7.2f s  $msg")

  /** Heap in use after full collections; the pauses let Spark's cleaner
    * release what the first collection made unreachable. */
  def liveHeapMb(): Double = {
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      (1024.0 * 1024.0)
  }

  def session(workDir: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def parse(args: Seq[String]): Config = {
    val m = args.grouped(2).collect { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("small").contains("1"), need("data"),
      need("warm-data"), need("expected"), need("work"), need("out"),
      need("origin-ms").toLong)
  }

  /** `{"q": {"rows": n, "hash": "h"}, ...}` — the committed digest file. */
  def readDigests(path: String): Map[String, Digest.Value] = {
    val text = new String(Files.readAllBytes(Paths.get(path)), "UTF-8")
    val Entry = """"([a-z0-9_]+)"\s*:\s*\{\s*"rows"\s*:\s*(\d+)\s*,\s*"hash"\s*:\s*"(-?\d+)"\s*\}""".r
    Entry.findAllMatchIn(text)
      .map(m => m.group(1) -> Digest.Value(m.group(2).toLong, m.group(3).toLong)).toMap
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") => runBench(parse(args.toSeq.tail))
    case Some("digests") => makeDigests(args(1), args(2), args(3).split(",").toSeq)
    case _ => sys.error("usage: perfbench.Main run ... | digests <dump> <out> <queries>")
  }

  private def makeDigests(dump: String, out: String, names: Seq[String]): Unit = {
    val spark = session(Files.createTempDirectory("perfbench-digests").toString)
    try {
      val lines = names.sorted.map { q =>
        s"""  "$q": ${Digest.of(spark.read.parquet(s"$dump/$q")).json}"""
      }
      Files.writeString(Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n"))
    } finally spark.stop()
  }

  private def runBench(cfg: Config): Unit = {
    Files.createDirectories(Paths.get(cfg.workDir))
    val spark = session(cfg.workDir)
    val result =
      try cfg.workload match {
        case "offline" => Offline.run(spark, cfg, readDigests(cfg.expectedPath))
        case "stream_serve" => StreamServe.run(spark, cfg)
        case other => sys.error(s"unknown workload $other")
      } finally spark.stop()

    val values = result.metrics.map { case (n, v) =>
      require(!v.isNaN && !v.isInfinite, s"$n is $v")
      s""""$n":$v"""
    }.mkString("{", ",", "}")
    if (cfg.trace) {
      val path = s"${cfg.workDir}/trace-${cfg.workload}-${cfg.seed}.json"
      result.tracer.write(path, result.traceSpans, result.traceFields)
      System.err.println(s"[perfbench] trace written to $path")
    }
    Files.writeString(Paths.get(cfg.out),
      s"""{"correct":${result.correct},"attempted":${result.attempted},""" +
        s""""failed":${result.failed},"values":$values}""" + "\n")
  }
}
