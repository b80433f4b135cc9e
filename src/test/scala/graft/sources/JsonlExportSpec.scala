package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

class JsonlExportSpec extends SparkSpec {
  import spark.implicits._

  test("jsonl roundtrip: values survive, shards are md5-stable dirs") {
    val dir = graft.TempDirs.create("graft-jsonl").toString
    val docs = Seq(
      (1L, "plain words here"),
      (2L, "quotes \" and \\ backslash and\ttab"),
      (3L, "unicode – ωmega — dash"),
      (4L, "")).toDF("doc_id", "text")
    Writers.exportJsonl(docs, dir, "doc_id", shards = 4)
    val back = Writers.readJsonl(spark, dir,
      StructType.fromDDL("doc_id BIGINT, text STRING, shard BIGINT"))
    // escaping/unicode/empty all round-trip
    assert(back.select("doc_id", "text").as[(Long, String)].collect().toSet
      == docs.as[(Long, String)].collect().toSet)
    // the recovered partition column matches the md5 rule
    val expected = docs.select(col("doc_id"),
      pmod(graft.functions.expressions.Md5Long(col("doc_id").cast("string"))
        .bitwiseAND(lit(Long.MaxValue)), lit(4L)).as("shard"))
      .as[(Long, Long)].collect().toSet
    assert(back.select("doc_id", "shard").as[(Long, Long)].collect().toSet
      == expected)
    // layout: one shard=N dir per occupied shard
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.forall(_.startsWith("shard=")) && dirs.nonEmpty)
    // re-export is stable (overwrite mode, same shards)
    Writers.exportJsonl(docs, dir, "doc_id", shards = 4)
    assert(Writers.readJsonl(spark, dir,
      StructType.fromDDL("doc_id BIGINT, text STRING, shard BIGINT"))
      .count() == 4)
  }
}
