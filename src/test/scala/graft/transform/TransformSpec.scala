package graft.transform

import graft.SparkSpec
import graft.catalog._

class SqlTransformSpec extends SparkSpec {
  import spark.implicits._

  test("sourcesOf extracts ordered distinct {{name.variant}} references") {
    val q = "SELECT * FROM {{a}} JOIN {{b.v2}} ON x = y JOIN {{a}} ON p = q"
    assert(SqlTransform.sourcesOf(q) ==
      Seq(ResourceId("a", "default"), ResourceId("b", "v2")))
  }

  test("rewrite substitutes view names; unresolved source throws") {
    val q = "SELECT * FROM {{src}}"
    assert(SqlTransform.rewrite(q, Map(ResourceId("src") -> "v0")) ==
      "SELECT * FROM v0")
    intercept[NoSuchElementException] {
      SqlTransform.rewrite(q, Map.empty)
    }
  }

  test("runWith executes templated SQL over supplied DataFrames") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val got = SqlTransform.runWith(spark,
      "SELECT count(*) AS n FROM {{t}} WHERE id > 1", Map(ResourceId("t") -> df))
    assert(got.collect().head.getLong(0) == 1L)
  }

  test("user-registered UDFs flow through the T1 SQL surface (§2.10 passthrough)") {
    // the engine itself ships zero UDFs (custom Catalyst expressions via
    // Registry instead), but a user's own spark.udf.register must work
    // through templated SQL unchanged — the reference's client-supplied
    // SQL transformations allow engine-native UDFs the same way
    spark.udf.register("graft_test_shout",
      (s: String) => if (s == null) null else s.toUpperCase + "!")
    val df = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val got = SqlTransform.runWith(spark,
      "SELECT id, graft_test_shout(s) AS shouted FROM {{t}} ORDER BY id",
      Map(ResourceId("t") -> df))
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "A!"), (2, "B!")))
  }
}

class CatalogSpec extends SparkSpec {
  import spark.implicits._

  test("chained transformations resolve through the DAG") {
    val cat = new Catalog(spark)
    cat.registerSource(SourceVariant(ResourceId("base"),
      DfTransformation(Nil, _ => Seq((1, 10), (2, 20)).toDF("k", "v"))))
    cat.registerSource(SourceVariant(ResourceId("mid"),
      SqlTransformation("SELECT k, v * 2 AS v FROM {{base}}")))
    cat.registerSource(SourceVariant(ResourceId("top"),
      SqlTransformation("SELECT sum(v) AS s FROM {{mid}}")))
    assert(cat.resolve(ResourceId("top")).collect().head.getLong(0) == 60L)
  }

  test("re-registering an identical source is a no-op; conflicting throws") {
    val cat = new Catalog(spark)
    val s = SourceVariant(ResourceId("p"), PrimaryData("/tmp/x.parquet"))
    cat.registerSource(s)
    cat.registerSource(s) // equal -> fine
    intercept[IllegalArgumentException] {
      cat.registerSource(SourceVariant(ResourceId("p"), PrimaryData("/tmp/y.parquet")))
    }
  }

  test("cycles are detected") {
    val cat = new Catalog(spark)
    cat.registerSource(SourceVariant(ResourceId("a"),
      SqlTransformation("SELECT * FROM {{b}}")))
    cat.registerSource(SourceVariant(ResourceId("b"),
      SqlTransformation("SELECT * FROM {{a}}")))
    intercept[IllegalStateException] {
      cat.resolve(ResourceId("a"))
    }
  }
}

class WritersSpec extends SparkSpec {
  import spark.implicits._
  import graft.sources.Writers

  test("versioned writes accumulate; readLatest sees the newest") {
    val dir = graft.TempDirs.create("graft-w").toString
    val d1 = Writers.writeVersioned(Seq(1).toDF("x"), dir)
    Thread.sleep(5)
    val d2 = Writers.writeVersioned(Seq(2).toDF("x"), dir)
    assert(d1 != d2)
    assert(Writers.latestVersion(spark, dir).contains(d2))
    assert(Writers.readLatest(spark, dir).collect().head.getInt(0) == 2)
  }

  test("atomicReplace flips the LATEST pointer") {
    val dir = graft.TempDirs.create("graft-a").toString
    Writers.atomicReplace(spark, Seq(1).toDF("x"), dir)
    Thread.sleep(5)
    val v2 = Writers.atomicReplace(spark, Seq(2).toDF("x"), dir)
    val ptr = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$dir/LATEST")), "UTF-8")
    assert(ptr == v2)
  }
}

class DailyPartitionSpec extends graft.SparkSpec {
  import spark.implicits._
  import graft.catalog.DailyPartition
  import java.sql.Timestamp

  test("K5 date-partitioned versioned write round-trips") {
    val dir = graft.TempDirs.create("graft-dp").toString
    val df = Seq(
      (1L, 1.0, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, 2.0, Timestamp.valueOf("2024-01-02 11:00:00")),
      (3L, 3.0, Timestamp.valueOf("2024-01-02 12:00:00"))
    ).toDF("entity", "value", "ts")
    val out = graft.sources.Writers.writeVersioned(df, dir, Some(DailyPartition("ts")))
    // partition dirs by date exist
    val sub = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("__date="))
    assert(sub.toSet == Set("__date=2024-01-01", "__date=2024-01-02"))
    val back = graft.sources.Writers.readLatest(spark, dir)
    assert(back.count() == 3)
    assert(back.columns.contains("__date"))
  }
}
