package graft.sources

import graft.SparkSpec

class CompactSpec extends SparkSpec {
  import spark.implicits._

  test("compact rewrites the latest version into fewer files, same rows") {
    val base = graft.TempDirs.create("graft_compact").toString
    val df = spark.range(1000).select($"id", ($"id" % 7).as("v"))
    Writers.writeVersioned(df.repartition(16), base)
    val before = Writers.latestVersion(spark, base).get
    def parquetFiles(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles(before) == 16)

    val compacted = Writers.compact(spark, base, targetFiles = 2)
    assert(compacted != before)
    assert(Writers.latestVersion(spark, base).contains(compacted))
    assert(parquetFiles(compacted) == 2)
    val a = spark.read.parquet(before).as[(Long, Long)].collect().sorted.toSeq
    val b = Writers.readLatest(spark, base).as[(Long, Long)].collect().sorted.toSeq
    assert(a == b && a.size == 1000)
  }

  test("compact preserves a DailyPartition layout (no silent flattening)") {
    import java.sql.Timestamp
    val base = graft.TempDirs.create("graft_compact_p").toString
    val df = (0 until 300).map { i =>
      (i.toLong, new Timestamp(86400000L * (i % 3)), i * 1.0)
    }.toDF("id", "ts", "v")
    Writers.writeVersioned(df.repartition(8), base,
      Some(graft.catalog.DailyPartition("ts")))
    def dateDirs(dir: String) =
      new java.io.File(dir).listFiles().count(_.getName.startsWith("__date="))
    assert(dateDirs(Writers.latestVersion(spark, base).get) == 3)

    val compacted = Writers.compact(spark, base,
      partition = Some(graft.catalog.DailyPartition("ts")))
    // layout preserved: still 3 date dirs, __date still a partition column
    assert(dateDirs(compacted) == 3)
    val back = Writers.readLatest(spark, base)
    assert(back.columns.contains("__date"))
    assert(back.count() == 300)
    // and the partition column did NOT leak into the data files
    val dataCols = spark.read.parquet(
      new java.io.File(compacted).listFiles().find(_.getName.startsWith("__date="))
        .get.toString).columns.toSet
    assert(!dataCols.contains("__date"))
  }
}
