package graft

import java.nio.file.{Files, Path}

/** Scratch directories for queries, benches and specs. Each one is
  * created under a single per-JVM root in `java.io.tmpdir`, and a shutdown
  * hook deletes that root, so a run leaves nothing behind in the temp
  * directory (a JVM killed outright still leaks its root). */
object TempDirs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft_jvm")
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(r)))
    r
  }

  /** A new empty directory `<root>/<prefix><random suffix>`. */
  def create(prefix: String): Path = Files.createTempDirectory(root, prefix)

  /** Delete `p` and everything below it, deepest first; a missing path is
    * a no-op, and a file another thread is still writing is skipped. */
  private[graft] def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach { f =>
      try Files.deleteIfExists(f)
      catch { case _: java.io.IOException => () }
    } finally walk.close()
  }
}
