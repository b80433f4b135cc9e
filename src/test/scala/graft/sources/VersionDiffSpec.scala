package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Version-dir change feed: classification, pre/post-image values, NULL
  * discipline in the row hash. */
class VersionDiffSpec extends SparkSpec {
  import spark.implicits._

  private def write(rows: Seq[(Long, Option[String], Option[Long])],
                    base: String): String =
    Writers.writeVersioned(rows.toDF("k", "s", "v"), base)

  test("classifies insert / delete / update; drops unchanged") {
    val dir = graft.TempDirs.create("vdiff").toString
    val v1 = write(Seq(
      (1L, Some("a"), Some(10L)),   // unchanged
      (2L, Some("b"), Some(20L)),   // updated
      (3L, Some("c"), Some(30L))),  // deleted
      s"$dir/t")
    val v2 = write(Seq(
      (1L, Some("a"), Some(10L)),
      (2L, Some("b"), Some(21L)),
      (4L, Some("d"), Some(40L))),  // inserted
      s"$dir/t")
    val got = Writers.versionDiff(spark, v1, v2, "k")
      .as[(Long, String, Option[String], Option[Long])].collect().toSet
    assert(got == Set(
      (2L, "update_postimage", Some("b"), Some(21L)),
      (3L, "delete", Some("c"), Some(30L)),       // pre-image values
      (4L, "insert", Some("d"), Some(40L))))
  }

  test("NULL shifts between columns are detected as updates") {
    val dir = graft.TempDirs.create("vdiff_null").toString
    // ("x", NULL) -> (NULL, ...) would hash equal under naive concat_ws
    val v1 = write(Seq((1L, Some("10"), None)), s"$dir/t")
    val v2 = write(Seq((1L, None, Some(10L))), s"$dir/t")
    val got = Writers.versionDiff(spark, v1, v2, "k")
      .select("change_type").as[String].collect().toSeq
    assert(got == Seq("update_postimage"))
  }
}
