package graft.sources

import graft.SparkSpec

/** Contract pin for the jar-gated Delta binding: where no Delta jar
  * exists to execute against, this spec pins exactly WHAT a
  * Delta-enabled cluster will run — the generated statements, the
  * change-feed option map (including the exclusive-start "+1"
  * semantics), the MERGE statement's syntactic validity under the
  * vanilla SQL parser, and the CDF session-conf save/restore behavior,
  * which executes here because the restore must hold even when the
  * write itself fails. TableFormatSpec runs the full behavioral suite
  * against the binding wherever a jar IS present. */
class DeltaFormatContractSpec extends SparkSpec {
  import spark.implicits._

  test("statement surface is pinned verbatim") {
    assert(DeltaFormat.ident("/data/t") == "delta.`/data/t`")
    assert(DeltaFormat.historySql("/data/t") ==
      "DESCRIBE HISTORY delta.`/data/t`")
    assert(DeltaFormat.mergeSql("/data/t", "k", "src_view") ==
      """MERGE INTO delta.`/data/t` t USING src_view s
        |ON t.`k` = s.`k`
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(DeltaFormat.vacuumSql("/data/t", 48L) ==
      "VACUUM delta.`/data/t` RETAIN 48 HOURS")
    assert(DeltaFormat.deleteSql("/data/t", "k = 7") ==
      "DELETE FROM delta.`/data/t` WHERE k = 7")
    // DELETE is core grammar: validity checkable without the jar
    val dp = spark.sessionState.sqlParser.parsePlan(
      DeltaFormat.deleteSql("/tmp/x", "id = 1")).toString
    assert(dp.toLowerCase.contains("delete"))
  }

  test("VACUUM retention: hours ceiled, 168h floor unless unsafe opt-in") {
    val H = 3600000L
    // flooring hazard: horizon <1h old must NOT become RETAIN 0 HOURS —
    // that would reclaim every file outside the latest snapshot
    assert(DeltaFormat.retainHours(nowMs = 10L * 60 * 1000, horizonMs = 0,
      allowUnsafe = true) == 1L)
    // exact-hour boundary does not over-ceil
    assert(DeltaFormat.retainHours(5 * H, 0, allowUnsafe = true) == 5L)
    assert(DeltaFormat.retainHours(5 * H + 1, 0, allowUnsafe = true) == 6L)
    // clock skew (horizon at/after now — e.g. another writer's clock a few
    // seconds ahead) must STILL not become RETAIN 0 HOURS: even the unsafe
    // opt-in floors at 1 hour
    assert(DeltaFormat.retainHours(0, 5 * H, allowUnsafe = true) == 1L)
    assert(DeltaFormat.retainHours(5 * H, 5 * H, allowUnsafe = true) == 1L)
    // default path: never below Delta's 168h retentionDurationCheck floor
    assert(DeltaFormat.retainHours(10L * 60 * 1000, 0,
      allowUnsafe = false) == 168L)
    assert(DeltaFormat.retainHours(200 * H, 0, allowUnsafe = false) == 200L)
  }

  test("change-feed options: exclusive start (+1), inclusive end") {
    assert(DeltaFormat.changeFeedOptions("3", "7") == Map(
      "readChangeFeed" -> "true",
      "startingVersion" -> "4",
      "endingVersion" -> "7"))
  }

  test("MERGE statement parses under the vanilla SQL grammar") {
    // MERGE INTO is core Spark grammar (the Delta jar supplies execution,
    // not parsing) — a malformed statement would die here, jar or not
    val plan = spark.sessionState.sqlParser.parsePlan(
      DeltaFormat.mergeSql("/tmp/x", "id", "updates_v"))
    val s = plan.toString
    assert(s.contains("MergeIntoTable") || s.toLowerCase.contains("merge"))
  }

  test("write scopes the CDF session default even when the write fails") {
    assume(!TableFormat.deltaAvailable) // jar-free sandbox leg
    val dir = graft.TempDirs.create("dfc").toString + "/t"
    val df = Seq((1L, "a")).toDF("k", "s")
    // prior value present -> restored
    spark.conf.set(DeltaFormat.cdfKey, "sentinel")
    intercept[Throwable](DeltaFormat.write(spark, df, dir, None))
    assert(spark.conf.get(DeltaFormat.cdfKey) == "sentinel")
    // prior value absent -> unset again
    spark.conf.unset(DeltaFormat.cdfKey)
    intercept[Throwable](DeltaFormat.write(spark, df, dir, None))
    assert(spark.conf.getOption(DeltaFormat.cdfKey).isEmpty)
  }
}
