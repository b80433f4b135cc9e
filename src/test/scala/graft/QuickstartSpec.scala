package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.catalog._
import graft.ops.{AsOfJoin, FeatureSide, Materialize}
import graft.types.ResourceSchema

/** The README quickstart, executable: the reference's wave/wind correctness
  * scenario (provider/correctness_test.go:1050-1087) replayed end-to-end
  * through this library — register sources in the catalog, run a templated
  * SQL transformation, materialize latest values, serve them online, and
  * build the point-in-time training set — asserting the reference's own
  * expected rows, NULL padding and inclusive-timestamp semantics included.
  */
class QuickstartSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s + " 00:00:00")

  // reference surf-conditions table (TEST_FEATURES_ALL_TIMESTAMPS)
  private lazy val surfRows = Seq(
    ("L0", "SW", 7.0, 5.0, 10.0, ts("2024-10-30")),
    ("L0", "SW", 8.0, 7.0, 8.0, ts("2024-11-01")),
    ("L1", "NW", 15.0, 11.0, 13.0, ts("2024-10-30")),
    ("L1", "W", 17.0, 12.0, 12.0, ts("2024-10-31")),
    ("L2", "NW", 42.0, 18.0, 23.0, ts("2024-10-30")),
    ("L2", "NW", 47.0, 17.0, 26.0, ts("2024-10-31")))
  // reference wave-height labels (TEST_LABELS_ALL_TIMESTAMPS)
  private lazy val labelRows = Seq(
    ("L0", "Linda Mar Beach", 4.0, ts("2024-10-29")),
    ("L0", "Linda Mar Beach", 3.9, ts("2024-10-30")),
    ("L0", "Linda Mar Beach", 3.5, ts("2024-10-31")),
    ("L1", "Ocean Beach", 6.5, ts("2024-10-30")),
    ("L1", "Ocean Beach", 7.0, ts("2024-10-31")),
    ("L2", "Mavericks", 16.0, ts("2024-10-30")),
    ("L2", "Mavericks", 18.0, ts("2024-11-01")))

  test("quickstart: catalog -> transform -> materialize -> PIT -> serve") {
    val dir = graft.TempDirs.create("graft-quickstart")
    surfRows.toDF("location_id", "swell_direction", "wave_power_kj",
        "swell_period_sec", "wind_speed_kts", "measured_on")
      .write.parquet(s"$dir/surf")
    labelRows.toDF("location_id", "location_name", "wave_height_ft",
        "observed_on")
      .write.parquet(s"$dir/waves")

    // 1. register primary sources + a templated SQL transformation
    val cat = new Catalog(spark)
    cat.registerEntity(EntityDef("Location"))
    cat.registerSource(SourceVariant(ResourceId("surf"),
      PrimaryData(s"$dir/surf", timestampColumn = Some("measured_on"))))
    cat.registerSource(SourceVariant(ResourceId("waves"),
      PrimaryData(s"$dir/waves", timestampColumn = Some("observed_on"))))
    cat.registerSource(SourceVariant(ResourceId("surf_clean"),
      SqlTransformation(
        "SELECT location_id, swell_direction, wave_power_kj, " +
          "swell_period_sec, wind_speed_kts, measured_on FROM {{surf.default}}")))

    // 2. features on the transformation, label with entity mapping
    val featureCols = Seq(
      "swell_direction" -> "swell_direction",
      "wave_power" -> "wave_power_kj",
      "swell_period" -> "swell_period_sec",
      "wind_speed" -> "wind_speed_kts")
    featureCols.foreach { case (fname, column) =>
      cat.registerFeature(FeatureVariant(ResourceId(fname),
        ResourceId("surf_clean"),
        ResourceSchema("location_id", column, Some("measured_on")),
        entity = "Location"))
    }
    cat.registerLabel(LabelVariant(ResourceId("wave_height"),
      ResourceId("waves"),
      Seq(EntityMapping("Location", "location_id")),
      "wave_height_ft", Some("observed_on")))
    cat.registerTrainingSet(TrainingSetVariant(
      ResourceId("wave_height_training_set"), ResourceId("wave_height"),
      featureCols.map(f => ResourceId(f._1))))

    // 3. materialize latest values and serve them online
    val store = new graft.serving.OnlineStore
    featureCols.foreach { case (fname, _) =>
      store.load(fname, Materialize.latest(
        cat.featureTriple(ResourceId(fname)), "entity", "value", Some("ts")))
    }
    assert(store.features(featureCols.map(_._1), "L0") ==
      Seq(Some("SW"), Some(8.0), Some(7.0), Some(8.0))) // the 11-01 row
    assert(store.features(featureCols.map(_._1), "L2") ==
      Seq(Some("NW"), Some(47.0), Some(17.0), Some(26.0)))
    assert(store.get("swell_direction", "L9").isEmpty)

    // 4. the point-in-time training set, via the streaming as-of merge
    val labelDef = cat.label(ResourceId("wave_height"))
    val surfClean = cat.resolve(ResourceId("surf_clean"))
    val trainingSet = AsOfJoin.trainingSet(
      cat.resolve(labelDef.source),
      Map("Location" -> "location_id"),
      labelDef.valueColumn, labelDef.timestampColumn,
      featureCols.map { case (fname, column) =>
        FeatureSide(surfClean, "location_id", column,
          Some("measured_on"), fname, entityName = "Location")
      })
    val got = trainingSet
      .select(col("location_id"), col("observed_on"),
        col("swell_direction"), col("wave_power"), col("swell_period"),
        col("wind_speed"), col("label"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1),
        (if (r.isNullAt(2)) null else r.getString(2),
          if (r.isNullAt(3)) null else r.getDouble(3),
          if (r.isNullAt(4)) null else r.getDouble(4),
          if (r.isNullAt(5)) null else r.getDouble(5)),
        r.getDouble(6))).toSet

    // the reference's expected rows, verbatim (correctness_test.go:1067-1075)
    assert(got == Set(
      ("L0", ts("2024-10-29"), (null, null, null, null), 4.0), // NULL padded
      ("L0", ts("2024-10-30"), ("SW", 7.0, 5.0, 10.0), 3.9),   // equal ts inclusive
      ("L0", ts("2024-10-31"), ("SW", 7.0, 5.0, 10.0), 3.5),   // 11-01 invisible
      ("L1", ts("2024-10-30"), ("NW", 15.0, 11.0, 13.0), 6.5),
      ("L1", ts("2024-10-31"), ("W", 17.0, 12.0, 12.0), 7.0),
      ("L2", ts("2024-10-30"), ("NW", 42.0, 18.0, 23.0), 16.0),
      ("L2", ts("2024-11-01"), ("NW", 47.0, 17.0, 26.0), 18.0))) // earlier ts visible
  }
}
