package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One Spark listener in src/main: every reader of Spark counters goes
  * through `graft.metrics.SparkCounters`, so no other source file names
  * `SparkListener` (a subclass, an instance or a registration). */
class ListenerScopeSpec extends AnyFunSuite {
  test("no SparkListener is created in src/main outside graft/metrics/") {
    val root = Paths.get("src/main/scala")
    val metrics = root.resolve("graft/metrics")
    val listener = """\bSparkListener(Interface)?\b|addSparkListener""".r
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !p.startsWith(metrics))
      .toSeq
    assert(files.size > 100, s"scanned ${files.size} files under $root")
    val hits = files.flatMap { p: Path =>
      new String(Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex
        .collect { case (l, i) if listener.findFirstIn(l).isDefined =>
          s"$p:${i + 1}: ${l.trim}" }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
