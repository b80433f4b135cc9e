package graft.catalog

import graft.SparkSpec
import graft.sched.TaskRun

/** Lineage export: edge derivation across every resource kind and the
  * single-document JSON contract. */
class LineageSpec extends SparkSpec {

  private def cat(): Catalog = {
    val c = new Catalog(spark)
    c.registerSource(SourceVariant(ResourceId("raw"),
      PrimaryData("/tmp/raw.parquet")))
    c.registerSource(SourceVariant(ResourceId("tf"), SqlTransformation(
      "SELECT * FROM {{raw}} JOIN {{raw.v2}} USING (k)")))
    c.registerSource(SourceVariant(ResourceId("raw", "v2"),
      PrimaryData("/tmp/raw2.parquet")))
    c.registerFeature(FeatureVariant(ResourceId("f1"), ResourceId("tf"),
      graft.types.ResourceSchema("e", "v", Some("ts"))))
    c.registerLabel(LabelVariant(ResourceId("l1"), ResourceId("raw"),
      Seq(EntityMapping("e", "e")), "y"))
    c.registerTrainingSet(TrainingSetVariant(ResourceId("ts1"),
      ResourceId("l1"), Seq(ResourceId("f1")),
      lags = Seq(FeatureLag(ResourceId("f1"), "f1_lag_1h", 3600))))
    c.registerModel(ModelDef("m", features = Seq(ResourceId("f1"))))
    c
  }

  test("edges cover sql-template refs, feature/label/ts/lag/model links") {
    val es = Lineage.edges(cat())
    assert(es.contains(("raw.default", "source", None, None)))
    assert(es.contains(("tf.default", "source", Some("raw.default"), Some("source"))))
    assert(es.contains(("tf.default", "source", Some("raw.v2"), Some("source"))))
    assert(es.contains(("f1.default", "feature", Some("tf.default"), Some("source"))))
    assert(es.contains(("l1.default", "label", Some("raw.default"), Some("source"))))
    assert(es.contains(("ts1.default", "training_set", Some("l1.default"), Some("label"))))
    // the lag feature contributes its own dependency edge (plus the plain one)
    assert(es.count(e => e._1 == "ts1.default" && e._3.contains("f1.default")) == 2)
    assert(es.contains(("m", "model", Some("f1.default"), Some("feature"))))
  }

  test("export joins latest-run state; exportJson carries nodes/edges/runs") {
    val runs = Seq(
      TaskRun("tf", "r1", 1, "failed", 0, 1, Some("x")),
      TaskRun("tf", "r1", 2, "success", 2, 3, None),
      TaskRun("f1", "r1", 1, "success", 4, 5, None))
    val df = Lineage.export(spark, cat(), runs).collect()
      .map(r => (r.getString(0), Option(r.getString(4)), r.getLong(5))).toSet
    assert(df.contains(("tf.default", Some("success"), 2L)))
    assert(df.contains(("f1.default", Some("success"), 1L)))
    assert(df.contains(("m", None, 0L)))
    val json = Lineage.exportJson(cat(), runs)
    assert(json.contains(""""nodes":["""))
    assert(json.contains("""{"from":"raw.default","to":"tf.default"}"""))
    assert(json.contains("""{"task":"tf","runKey":"r1","attempt":2,"status":"success"}"""))
    // well-formed enough for a JSON parser: balanced and quoted
    assert(json.count(_ == '{') == json.count(_ == '}'))
  }

  test("a dotted resource name keeps its own run status and schedule") {
    val c = new Catalog(spark)
    c.registerSource(SourceVariant(ResourceId("tpch"), PrimaryData("/tmp/tpch.parquet")))
    c.registerSource(SourceVariant(ResourceId("tpch.orders"),
      PrimaryData("/tmp/orders.parquet")))
    val runs = Seq(
      TaskRun("tpch", "r1", 1, "failed", 0, 1, Some("x")),
      TaskRun("tpch.orders", "r1", 1, "success", 2, 3, None))
    val status = Lineage.export(spark, c, runs).collect()
      .map(r => r.getString(0) -> Option(r.getString(4))).toMap
    assert(status == Map("tpch.default" -> Some("failed"),
      "tpch.orders.default" -> Some("success")))
    c.setProperties(ResourceKey("SOURCE", "tpch.default"),
      Map("__schedule" -> "0 * * * *"))
    c.setProperties(ResourceKey("SOURCE", "tpch.orders.default"),
      Map("__schedule" -> "*/5 * * * *"))
    assert(graft.sched.Scheduler.catalogSchedules(c).toSet ==
      Set("tpch" -> "0 * * * *", "tpch.orders" -> "*/5 * * * *"))
  }
}
