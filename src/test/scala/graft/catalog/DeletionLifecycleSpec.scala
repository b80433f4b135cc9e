package graft.catalog

import graft.SparkSpec
import graft.types.ResourceSchema

/** Two-phase staged deletion — the reference's MarkForDeletion → staged →
  * FinalizeDeletion / PruneResource lifecycle (metadata.proto:46-51,
  * resources_repository.go:251-420) over the in-process catalog DAG. */
class DeletionLifecycleSpec extends SparkSpec {

  private def planted(): Catalog = {
    val cat = new Catalog(spark)
    cat.registerSource(SourceVariant(ResourceId("orders"),
      PrimaryData(s"$sf001/orders.parquet")))
    cat.registerFeature(FeatureVariant(ResourceId("f_rev"), ResourceId("orders"),
      ResourceSchema("o_custkey", "o_totalprice", Some("o_orderdate"))))
    cat.registerLabel(LabelVariant(ResourceId("lbl"), ResourceId("orders"),
      Seq(EntityMapping("customer", "o_custkey")), "o_totalprice"))
    cat.registerTrainingSet(TrainingSetVariant(ResourceId("ts1"),
      ResourceId("lbl"), Seq(ResourceId("f_rev"))))
    cat
  }
  private def key(kind: String, id: String) = ResourceKey(kind, id)

  test("mark is refused while a live dependent exists; allowed after the " +
       "dependent chain is staged dependents-first") {
    val cat = planted()
    // orders has three dependents (feature, label via source, nothing else
    // staged) — marking it must fail and NAME the blockers
    val e = intercept[IllegalStateException] {
      cat.markForDeletion(key("SOURCE", "orders.default"))
    }
    assert(e.getMessage.contains("f_rev") || e.getMessage.contains("lbl"))
    // feature is blocked by the training set
    intercept[IllegalStateException] {
      cat.markForDeletion(key("FEATURE", "f_rev.default"))
    }
    // dependents-first: ts → feature+label → source all mark cleanly
    cat.markForDeletion(key("TRAINING_SET", "ts1.default"))
    cat.markForDeletion(key("FEATURE", "f_rev.default"))
    cat.markForDeletion(key("LABEL", "lbl.default"))
    cat.markForDeletion(key("SOURCE", "orders.default"))
    assert(cat.allStaged.size == 4)
    // staged resources read DELETING and stay readable via the staged view
    assert(cat.status(key("SOURCE", "orders.default"))._1 == 7)
    assert(cat.stagedForDeletion(key("SOURCE", "orders.default")).nonEmpty)
  }

  test("finalize requires a prior mark, erases the resource, and fires the " +
       "physical hook exactly once") {
    val cat = planted()
    intercept[IllegalArgumentException] {
      cat.finalizeDeletion(key("TRAINING_SET", "ts1.default"))
    }
    cat.markForDeletion(key("TRAINING_SET", "ts1.default"))
    var fired = 0
    cat.finalizeDeletion(key("TRAINING_SET", "ts1.default"), _ => fired += 1)
    assert(fired == 1)
    assert(cat.allTrainingSets.isEmpty)
    assert(cat.stagedForDeletion(key("TRAINING_SET", "ts1.default")).isEmpty)
    // feature is now unblocked (its only dependent is gone)
    cat.markForDeletion(key("FEATURE", "f_rev.default"))
  }

  test("prune stages the whole downstream closure; provider prune spares " +
       "the provider itself") {
    val cat = planted()
    val staged = cat.pruneResource(key("SOURCE", "orders.default"))
    assert(staged.map(_.id).toSet ==
      Set("orders.default", "f_rev.default", "lbl.default", "ts1.default"))
    // everything is staged; finalize each (dependents are staged too, so
    // order no longer matters)
    staged.foreach(cat.finalizeDeletion(_))
    assert(cat.allSources.isEmpty && cat.allFeatures.isEmpty &&
      cat.allLabels.isEmpty && cat.allTrainingSets.isEmpty)

    val cat2 = new Catalog(spark)
    cat2.registerProvider(ProviderDef("sp", "SPARK_OFFLINE"))
    cat2.registerSource(SourceVariant(ResourceId("s1"),
      PrimaryData(s"$sf001/orders.parquet")))
    cat2.setProperties(ResourceKey("SOURCE", "s1.default"), Map("provider" -> "sp"))
    // provider is blocked by the source that names it
    intercept[IllegalStateException] { cat2.markForDeletion(key("PROVIDER", "sp")) }
    val pruned = cat2.pruneResource(key("PROVIDER", "sp"))
    assert(pruned.map(_.id) == Seq("s1.default")) // provider itself spared
    assert(!cat2.isStaged(key("PROVIDER", "sp")))
    cat2.finalizeDeletion(key("SOURCE", "s1.default"))
    cat2.markForDeletion(key("PROVIDER", "sp")) // now unblocked
  }

  test("staged marks and statuses survive a save/load round-trip") {
    val dir = graft.TempDirs.create("graft_del_spec").toString
    val cat = planted()
    cat.markForDeletion(key("TRAINING_SET", "ts1.default"))
    cat.setStatus(key("FEATURE", "f_rev.default"), 3, "ready")
    CatalogStore.save(cat, spark, dir)
    val back = CatalogStore.load(spark, dir)
    assert(back.isStaged(key("TRAINING_SET", "ts1.default")))
    assert(back.status(key("TRAINING_SET", "ts1.default"))._1 == 7)
    assert(back.status(key("FEATURE", "f_rev.default")) == ((3, "ready")))
    // the restart can finish what the dead process started
    back.finalizeDeletion(key("TRAINING_SET", "ts1.default"))
    assert(back.allTrainingSets.isEmpty)
  }
}
