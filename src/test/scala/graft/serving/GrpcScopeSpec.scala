package graft.serving

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One gRPC runtime in src/main: method descriptors, the byte marshaller,
  * the call adapters and the Netty server live in `serving/Grpc.scala`,
  * and protobuf messages are decoded with `ProtoWire.R.fields`, so no
  * other source file builds its own copy of either. */
class GrpcScopeSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val shared = root.resolve("graft/serving/Grpc.scala")
  private val protoWire = root.resolve("graft/serving/ProtoWire.scala")

  private def scalaFiles: Seq[Path] = {
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.size > 100, s"scanned ${files.size} files under $root")
    files
  }

  private def hits(files: Seq[Path], pattern: scala.util.matching.Regex): Seq[String] =
    files.flatMap { p =>
      new String(Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex
        .collect { case (l, i) if pattern.findFirstIn(l).isDefined =>
          s"$p:${i + 1}: ${l.trim}" }
    }

  test("gRPC plumbing is named only in the shared gRPC file") {
    val plumbing =
      """ServerCalls\.|MethodDescriptor\.newBuilder|Marshaller\[|NettyServerBuilder""".r
    val found = hits(scalaFiles.filterNot(_ == shared), plumbing)
    assert(found.isEmpty, found.mkString("\n"))
    assert(hits(Seq(shared), plumbing).nonEmpty, s"$shared holds the gRPC runtime")
  }

  test("no protobuf decode loop outside ProtoWire") {
    val found = hits(scalaFiles.filterNot(_ == protoWire), """readTag\(\)\s*match""".r)
    assert(found.isEmpty, found.mkString("\n"))
  }
}
