package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The table-format seam, parameterized over every binding available on
  * THIS classpath — in the jar-free sandbox that is [[VersionDirFormat]]
  * alone; on a Delta-enabled cluster the identical assertions also run
  * against [[DeltaFormat]] (real MERGE INTO + readChangeFeed), which is
  * the seam's whole point. */
class TableFormatSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    graft.TempDirs.create(s"tfmt_$tag").toString + "/t"

  for (fmt <- TableFormat.available(spark)) {

    test(s"[${fmt.name}] write/readLatest roundtrip; versions ascend") {
      val dir = freshDir(fmt.name)
      val v1 = fmt.write(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "s"), dir)
      val v2 = fmt.write(spark, Seq((1L, "a"), (3L, "c")).toDF("k", "s"), dir)
      assert(fmt.versions(spark, dir) == Seq(v1, v2))
      assert(fmt.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
        Set((1L, "a"), (3L, "c")))
      assert(fmt.readVersion(spark, dir, v1).as[(Long, String)]
        .collect().toSet == Set((1L, "a"), (2L, "b")))
    }

    test(s"[${fmt.name}] changes: insert/delete/update taxonomy") {
      val dir = freshDir(fmt.name)
      val v1 = fmt.write(spark,
        Seq((1L, "same"), (2L, "old"), (3L, "gone")).toDF("k", "s"), dir)
      val v2 = fmt.write(spark,
        Seq((1L, "same"), (2L, "new"), (4L, "born")).toDF("k", "s"), dir)
      val got = fmt.changes(spark, dir, v1, v2, "k")
        .select("k", "change_type", "s")
        .as[(Long, String, String)].collect().toSet
      // Delta CDF of a full overwrite reports unchanged rows as delete +
      // insert pairs; the version-dir diff suppresses them. Assert the
      // CONTRACT both satisfy: the real changes are present and correctly
      // tagged, pre-images dropped.
      assert(got.contains((3L, "delete", "gone")))
      assert(got.contains((4L, "insert", "born")))
      assert(got.exists { case (k, t, s) =>
        k == 2L && s == "new" && (t == "update_postimage" || t == "insert") })
      assert(!got.exists(_._2 == "update_preimage"))
    }

    test(s"[${fmt.name}] mergeUpsert: updates win, unmatched insert, new version") {
      val dir = freshDir(fmt.name)
      fmt.write(spark, Seq((1L, "keep"), (2L, "old")).toDF("k", "s"), dir)
      val before = fmt.versions(spark, dir).size
      fmt.mergeUpsert(spark, dir,
        Seq((2L, "new"), (9L, "ins")).toDF("k", "s"), "k")
      assert(fmt.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
        Set((1L, "keep"), (2L, "new"), (9L, "ins")))
      assert(fmt.versions(spark, dir).size == before + 1)
    }

    test(s"[${fmt.name}] deleteWhere removes matching rows as new table state") {
      val dir = freshDir(fmt.name)
      fmt.write(spark,
        Seq((1L, "keep"), (7L, "gone"), (2L, "keep2"), (7L, "also"))
          .toDF("k", "s"), dir)
      val before = fmt.versions(spark, dir).size
      fmt.deleteWhere(spark, dir, "k = 7")
      assert(fmt.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
        Set((1L, "keep"), (2L, "keep2")))
      // history grows (versioned delete), prior version still holds the rows
      assert(fmt.versions(spark, dir).size == before + 1)
      assert(fmt.readVersion(spark, dir, fmt.versions(spark, dir).head)
        .where("k = 7").count() == 2)
    }

    test(s"[${fmt.name}] deleteWhere: NULL predicate keeps the row (SQL DELETE)") {
      // SQL DELETE removes rows where the predicate is TRUE; a NULL
      // predicate (here: s = 'gone' with NULL s) KEEPS the row. The three
      // bindings must agree — a naive filter-negation would drop NULLs
      // only on versiondir.
      val dir = freshDir(fmt.name)
      fmt.write(spark,
        Seq((1L, Some("keep")), (2L, None), (3L, Some("gone")))
          .toDF("k", "s"), dir)
      fmt.deleteWhere(spark, dir, "s = 'gone'")
      assert(fmt.readLatest(spark, dir).as[(Long, Option[String])]
        .collect().toSet == Set((1L, Some("keep")), (2L, None)))
    }

    test(s"[${fmt.name}] expireVersions retains the newest N; latest survives") {
      val dir = freshDir(fmt.name)
      fmt.write(spark, Seq((1L, "v1")).toDF("k", "s"), dir)
      Thread.sleep(5)
      fmt.write(spark, Seq((2L, "v2")).toDF("k", "s"), dir)
      Thread.sleep(5)
      val v3 = fmt.write(spark, Seq((3L, "v3")).toDF("k", "s"), dir)
      fmt.expireVersions(spark, dir, keepLast = 1)
      // Delta retains log entries by time (VACUUM reclaims files), so only
      // the versiondir binding guarantees a shrunken token list; ALL
      // bindings must keep the latest version readable and intact
      if (fmt.name == "versiondir")
        assert(fmt.versions(spark, dir) == Seq(v3))
      assert(fmt.versions(spark, dir).last == v3)
      assert(fmt.readLatest(spark, dir).as[(Long, String)].collect().toSet ==
        Set((3L, "v3")))
    }
  }

  test("resolve honors spark.graft.tableFormat; delta gated on classpath") {
    spark.conf.set("spark.graft.tableFormat", "versiondir")
    assert(TableFormat.resolve(spark) eq VersionDirFormat)
    spark.conf.set("spark.graft.tableFormat", "auto")
    val auto = TableFormat.resolve(spark)
    if (TableFormat.deltaAvailable) assert(auto eq DeltaFormat)
    else {
      assert(auto eq VersionDirFormat)
      intercept[IllegalArgumentException] {
        spark.conf.set("spark.graft.tableFormat", "delta")
        try TableFormat.resolve(spark)
        finally spark.conf.set("spark.graft.tableFormat", "auto")
      }
    }
  }

  test("iceberg gated on jar + catalog conf; identifier mapping is stable") {
    if (!TableFormat.icebergAvailable(spark)) {
      intercept[IllegalArgumentException] {
        spark.conf.set("spark.graft.tableFormat", "iceberg")
        try TableFormat.resolve(spark)
        finally spark.conf.set("spark.graft.tableFormat", "auto")
      }
    }
    // path → identifier mapping is deterministic, collision-hashed, and
    // namespace-isolated regardless of jar availability
    val f = new IcebergFormat("ice")
    assert(f.ident("/tmp/a b/феатуре") == f.ident("/tmp/a b/феатуре"))
    assert(f.ident("/tmp/x/t") != f.ident("/tmp/y/t"))
    assert(f.ident("/tmp/x/t").startsWith("ice.graft.t_"))
  }
}
