package graft.catalog

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.types.ResourceSchema

class CatalogPersistSpec extends SparkSpec {

  private def freshDir() =
    graft.TempDirs.create("graft_cat_spec").toString

  test("catalog persists every resource kind and resolves after reload") {
    val dir = freshDir()
    val cat = new Catalog(spark)
    cat.registerEntity(EntityDef("user"))
    cat.registerSource(SourceVariant(ResourceId("orders"),
      PrimaryData(s"$sf001/orders.parquet"), Some(HashPartition("o_custkey", 8)),
      isIncremental = true))
    cat.registerSource(SourceVariant(ResourceId("big_orders"), SqlTransformation(
      "SELECT o_custkey, o_totalprice FROM {{orders}} WHERE o_totalprice > 100000")))
    val double: Seq[DataFrame] => DataFrame =
      { case Seq(df) => df.withColumn("o_totalprice", col("o_totalprice") * 2) }
    cat.registerSource(SourceVariant(ResourceId("doubled"),
      DfTransformation(Seq(ResourceId("big_orders")), double, Some("double_price"))))
    cat.registerFeature(FeatureVariant(ResourceId("f_rev"), ResourceId("orders"),
      ResourceSchema("o_custkey", "o_totalprice", Some("o_orderdate")), "user"))
    cat.registerLabel(LabelVariant(ResourceId("lbl"), ResourceId("orders"),
      Seq(EntityMapping("user", "o_custkey")), "o_totalprice", Some("o_orderdate")))
    cat.registerTrainingSet(TrainingSetVariant(ResourceId("ts1"), ResourceId("lbl"),
      Seq(ResourceId("f_rev")),
      Seq(FeatureLag(ResourceId("f_rev"), "f_rev_1d", 86400L))))
    cat.registerOnDemand(OnDemandVariant(ResourceId("od"), "o_totalprice * 0.5"))
    CatalogStore.save(cat, spark, dir)

    val back = CatalogStore.load(spark, dir,
      dfFns = Map("double_price" -> double))
    assert(back.source(ResourceId("orders")) == cat.source(ResourceId("orders")))
    assert(back.source(ResourceId("big_orders")) == cat.source(ResourceId("big_orders")))
    assert(back.feature(ResourceId("f_rev")) == cat.feature(ResourceId("f_rev")))
    assert(back.label(ResourceId("lbl")) == cat.label(ResourceId("lbl")))
    assert(back.trainingSet(ResourceId("ts1")) == cat.trainingSet(ResourceId("ts1")))
    assert(back.onDemand(ResourceId("od")) == cat.onDemand(ResourceId("od")))
    // resolution works through the reloaded DAG (incl. the rebound df fn)
    val a = cat.resolve(ResourceId("doubled")).orderBy("o_custkey", "o_totalprice").collect()
    val b = back.resolve(ResourceId("doubled")).orderBy("o_custkey", "o_totalprice").collect()
    assert(a.sameElements(b) && a.nonEmpty)
  }

  test("re-registering an equal definition is a no-op; conflicting throws") {
    val dir = freshDir()
    val cat = new Catalog(spark)
    cat.registerSource(SourceVariant(ResourceId("orders"),
      PrimaryData(s"$sf001/orders.parquet")))
    CatalogStore.save(cat, spark, dir)
    val back = CatalogStore.load(spark, dir)
    back.registerSource(SourceVariant(ResourceId("orders"),
      PrimaryData(s"$sf001/orders.parquet"))) // equal → fine
    intercept[IllegalArgumentException] {
      back.registerSource(SourceVariant(ResourceId("orders"),
        PrimaryData("/elsewhere.parquet")))
    }
  }

  test("providers/users/models + tags/properties round-trip; lineage answers") {
    val dir = freshDir()
    val cat = new Catalog(spark)
    cat.registerSource(SourceVariant(ResourceId("orders"),
      PrimaryData(s"$sf001/orders.parquet")))
    cat.registerFeature(FeatureVariant(ResourceId("f1"), ResourceId("orders"),
      graft.types.ResourceSchema("o_custkey", "o_totalprice", None)))
    cat.registerFeature(FeatureVariant(ResourceId("f2"), ResourceId("orders"),
      graft.types.ResourceSchema("o_custkey", "o_shippriority", None)))
    cat.registerLabel(LabelVariant(ResourceId("l1"), ResourceId("orders"),
      Seq(EntityMapping("customer", "o_custkey")), "o_totalprice"))
    cat.registerTrainingSet(TrainingSetVariant(ResourceId("ts1"),
      ResourceId("l1"), Seq(ResourceId("f1"), ResourceId("f2"))))
    cat.registerProvider(ProviderDef("spark_local", "SPARK_OFFLINE", "d"))
    cat.registerUser(UserDef("bob"))
    cat.registerModel(ModelDef("m_direct", features = Seq(ResourceId("f1"))))
    cat.registerModel(ModelDef("m_via_ts", trainingSets = Seq(ResourceId("ts1"))))
    // model lineage accretes on re-registration
    cat.registerModel(ModelDef("m_direct", features = Seq(ResourceId("f2"))))
    cat.addTags(ResourceKey("FEATURE", "f1.default"), Seq("pii"))
    cat.addTags(ResourceKey("MODEL", "m_direct"), Seq("prod", "pii"))
    cat.setProperties(ResourceKey("PROVIDER", "spark_local"), Map("team" -> "ml"))

    CatalogStore.save(cat, spark, dir)
    val back = CatalogStore.load(spark, dir)
    assert(back.provider("spark_local") == ProviderDef("spark_local", "SPARK_OFFLINE", "d"))
    assert(back.allUsers == Seq(UserDef("bob")))
    assert(back.model("m_direct").features ==
      Seq(ResourceId("f1"), ResourceId("f2")))
    assert(back.featuresConsumedBy("m_via_ts") ==
      Seq(ResourceId("f1"), ResourceId("f2")))
    assert(back.modelsConsuming(ResourceId("f1")).toSet ==
      Set("m_direct", "m_via_ts"))
    assert(back.resourcesTagged("pii").toSet ==
      Set(ResourceKey("FEATURE", "f1.default"), ResourceKey("MODEL", "m_direct")))
    assert(back.properties(ResourceKey("PROVIDER", "spark_local")) ==
      Map("team" -> "ml"))
  }

  test("unnamed DfTransformation refuses to persist") {
    val dir = freshDir()
    val cat = new Catalog(spark)
    cat.registerSource(SourceVariant(ResourceId("x"),
      DfTransformation(Nil, _ => spark.range(1).toDF())))
    intercept[IllegalStateException] { CatalogStore.save(cat, spark, dir) }
  }

  test("concurrent savers and loaders never observe a missing or torn document") {
    // save's delete->rename pair used to leave a no-file window a reader
    // could hit; under the store lock, N racing save/load pairs always see
    // a complete document
    val dir = freshDir()
    val mk = (n: Int) => {
      val c = new Catalog(spark)
      (0 to n).foreach(i => c.registerEntity(EntityDef(s"e$i")))
      c
    }
    CatalogStore.save(mk(0), spark, dir)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    for (i <- 1 to 24) pool.submit(new Runnable {
      def run(): Unit =
        try {
          if (i % 2 == 0) CatalogStore.save(mk(i), spark, dir)
          else assert(CatalogStore.load(spark, dir).allEntities.nonEmpty)
        } catch { case t: Throwable => errs.add(s"$i: $t") }
    })
    pool.shutdown()
    assert(pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS))
    assert(errs.isEmpty, errs.toString)
    assert(CatalogStore.load(spark, dir).allEntities.nonEmpty)
  }
}
