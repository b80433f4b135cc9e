package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Prints the root of one `TempDirs.create` and exits, so a spec can check
  * that the shutdown hook removed it. */
object TempDirsChild {
  def main(args: Array[String]): Unit = {
    val d = TempDirs.create("graft_child")
    Files.write(d.resolve("f"), Array[Byte](1, 2, 3))
    println(d.getParent)
  }
}

class TempDirsSpec extends AnyFunSuite {
  test("directories are new, empty and share one root in the temp dir") {
    val a = TempDirs.create("graft_t")
    val b = TempDirs.create("graft_t")
    assert(a != b && a.getParent == b.getParent)
    assert(Files.isDirectory(a) && Files.list(a).count() == 0)
    assert(a.getFileName.toString.startsWith("graft_t"))
    assert(a.getParent.getParent ==
      Paths.get(System.getProperty("java.io.tmpdir")).toAbsolutePath)
  }

  test("deleteTree removes a nested tree; a missing path is a no-op") {
    val t = TempDirs.create("graft_tree")
    Files.createDirectories(t.resolve("x/y"))
    Files.write(t.resolve("x/y/f"), Array[Byte](1))
    Files.write(t.resolve("g"), Array[Byte](2))
    TempDirs.deleteTree(t)
    assert(!Files.exists(t))
    TempDirs.deleteTree(t)
  }

  test("the root is gone after its JVM exits") {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val pb = new ProcessBuilder(javaBin, "-cp",
      System.getProperty("java.class.path"), "graft.TempDirsChild")
    val proc = pb.start()
    val out = new String(proc.getInputStream.readAllBytes()).trim
    assert(proc.waitFor() == 0)
    val root: Path = Paths.get(out.linesIterator.toSeq.last)
    assert(root.getFileName.toString.startsWith("graft_jvm"))
    assert(!Files.exists(root), s"$root survived its JVM")
  }
}
