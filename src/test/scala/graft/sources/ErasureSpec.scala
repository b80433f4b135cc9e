package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The offline right-to-erasure pair: scrubLatest (new version without the
  * rows) + gcVersions (historical copies physically dropped, LATEST
  * pointer target pinned). */
class ErasureSpec extends SparkSpec {
  import spark.implicits._

  private def versionDirs(base: String): Seq[String] =
    new java.io.File(base).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted.toSeq

  test("scrubLatest drops only the matching rows, as a NEW version") {
    val base = graft.TempDirs.create("graft_scrub").toString
    Writers.writeVersioned(
      Seq((1L, "a"), (7L, "gone"), (2L, "b"), (7L, "also")).toDF("k", "s"),
      base)
    Thread.sleep(5)
    val v2 = Writers.scrubLatest(spark, base, col("k") === 7L)
    assert(Writers.latestVersion(spark, base).contains(v2))
    assert(Writers.readLatest(spark, base).as[(Long, String)]
      .collect().toSet == Set((1L, "a"), (2L, "b")))
    assert(versionDirs(base).size == 2) // the old copy still exists...
  }

  test("scrubLatest keeps NULL-predicate rows (SQL DELETE semantics)") {
    val base = graft.TempDirs.create("graft_scrubn").toString
    Writers.writeVersioned(
      Seq((1L, Some("keep")), (2L, None), (3L, Some("gone")))
        .toDF("k", "s"), base)
    Thread.sleep(5)
    Writers.scrubLatest(spark, base, col("s") === "gone")
    // row 2's predicate is NULL -> kept, exactly like DELETE FROM .. WHERE
    // on the Delta/Iceberg bindings
    assert(Writers.readLatest(spark, base).as[(Long, Option[String])]
      .collect().toSet == Set((1L, Some("keep")), (2L, None)))
  }

  test("scrubLatest flips the LATEST pointer on pointer-managed tables") {
    val base = graft.TempDirs.create("graft_scrubp").toString
    Writers.atomicReplace(spark,
      Seq((1L, "a"), (7L, "gone")).toDF("k", "s"), base)
    Thread.sleep(5)
    val v2 = Writers.scrubLatest(spark, base, col("k") === 7L)
    // the pointer now names the scrubbed version — a pointer-following
    // reader no longer sees the erased rows...
    val ptr = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$base/LATEST")).trim
    assert(ptr == v2)
    // ...and gcVersions pins the SCRUBBED version, so the unscrubbed copy
    // is reclaimable (the erasure pair completes on pointer tables too)
    val gone = Writers.gcVersions(spark, base, keepLast = 1)
    assert(gone.size == 1 && versionDirs(base) == Seq(v2.split('/').last))
    assert(Writers.readLatest(spark, base).as[(Long, String)]
      .collect().toSet == Set((1L, "a")))
  }

  test("gcVersions keeps the newest N and the LATEST pointer target") {
    val base = graft.TempDirs.create("graft_gc").toString
    val v1 = Writers.writeVersioned(Seq((1L, "v1")).toDF("k", "s"), base)
    Thread.sleep(5)
    Writers.writeVersioned(Seq((2L, "v2")).toDF("k", "s"), base)
    Thread.sleep(5)
    Writers.writeVersioned(Seq((3L, "v3")).toDF("k", "s"), base)
    val gone = Writers.gcVersions(spark, base, keepLast = 1)
    assert(gone.size == 2 && versionDirs(base).size == 1)
    assert(Writers.readLatest(spark, base).as[(Long, String)]
      .collect().toSeq == Seq((3L, "v3")))
    assert(!gone.contains(v1.split('/').last) ||
      !new java.io.File(v1).exists())

    // pointer pinning: a LATEST pointer at an OLD version survives gc
    val base2 = graft.TempDirs.create("graft_gc2").toString
    val p1 = Writers.atomicReplace(spark, Seq((1L, "p1")).toDF("k", "s"), base2)
    Thread.sleep(5)
    Writers.writeVersioned(Seq((2L, "p2")).toDF("k", "s"), base2)
    Thread.sleep(5)
    Writers.writeVersioned(Seq((3L, "p3")).toDF("k", "s"), base2)
    val gone2 = Writers.gcVersions(spark, base2, keepLast = 1)
    val left = versionDirs(base2)
    assert(left.contains(p1.split('/').last)) // pointer target pinned
    assert(left.size == 2 && gone2.size == 1)
  }
}
