package graft.streaming

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** One replay path for the query fixtures: `SparkEntry` replays every
  * file stream through `StreamRun.replay` / `replayTo`, so it reads no
  * stream, picks no trigger or sink and sets no streaming conf itself. */
class StreamScopeSpec extends AnyFunSuite {
  test("SparkEntry starts no stream of its own") {
    val entry = Paths.get("src/main/scala/graft/SparkEntry.scala")
    val own = """\.readStream|Trigger\.AvailableNow|format\("memory"\)|noDataMicroBatches|conf\.set\("spark\.sql\.shuffle\.partitions"""".r
    val lines = new String(Files.readAllBytes(entry), "UTF-8").linesIterator.toSeq
    assert(lines.size > 1000, s"read ${lines.size} lines of $entry")
    val hits = lines.zipWithIndex.collect {
      case (l, i) if own.findFirstIn(l).isDefined => s"$entry:${i + 1}: ${l.trim}"
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
