package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** One feature input to a point-in-time training-set join.
  *
  * @param entityName which label entity mapping this feature joins through
  *                   (multi-entity labels, reference metadata.proto:372-381)
  * @param lagSeconds P7 lag features: value becomes visible `lag` after its ts
  *                   (reference provider/spark.go:152-207 —
  *                   `ON entity AND (t.ts + INTERVAL lag) <= label_ts`).
  * @param maxAgeSeconds feature TTL (staleness bound, the Feast `ttl` role):
  *                   the picked value must satisfy
  *                   `label_ts - feature_ts <= maxAge`, else NULL. Because
  *                   rows older than the latest qualifying one are older
  *                   still, mask-after-pick ≡ filter-then-pick — so every
  *                   strategy implements it as a post-pick mask on the
  *                   picked ts carried through the value struct.
  */
final case class FeatureSide(
    df: DataFrame,
    entityCol: String,
    valueCol: String,
    tsCol: Option[String],
    outputName: String,
    entityName: String = "entity",
    lagSeconds: Option[Long] = None,
    maxAgeSeconds: Option[Long] = None)

sealed trait AsOfStrategy
/** Union feature+label events, one window pass per feature source. One
  * shuffle on the entity key, no join explosion on entities with long
  * histories (the join-then-filter shape materializes |label| × |history|
  * intermediate rows; this shape is O(|label| + |history|) with a single
  * sort) — but `WindowExec` still buffers each entity partition, so a hot
  * entity's history pays a spill cycle. Kept as the declarative reference
  * the other strategies are agreement-tested against. */
case object UnionWindow extends AsOfStrategy
/** Scale path (default): the custom [[graft.plans.AsOfMerge]] operator —
  * children co-clustered on entity and sorted once, then a streaming merge
  * holding ONE buffered value per entity regardless of history length. No
  * window buffer (UnionWindow's weakness on skewed entities), no join
  * explosion, and no re-join: the picked values append to the label rows
  * in the same pass. Semantics agreement-tested against UnionWindow. */
case object SortMergeAsOf extends AsOfStrategy
/** Broadcast-side as-of: the feature group collected, sorted per entity,
  * broadcast, and resolved per label row by a scan-stage binary search
  * ([[graft.plans.AsOfBroadcastLookup]]) — ZERO exchanges anywhere; the
  * as-of analogue of a broadcast hash join, for dimension-sized feature
  * tables under a huge label scan. `maxRows` guards the small side. */
final case class BroadcastAsOf(maxRows: Int = 4000000) extends AsOfStrategy

/** Point-in-time (as-of) training-set join — reference §2.5 (P1-P9).
  *
  * Semantics (reference provider/correctness_test.go:1050-1093):
  *  - each label row gets every feature's latest value with
  *    `feature.ts <= label.ts` (inclusive);
  *  - label rows with no qualifying feature row keep NULL (LEFT joins only);
  *  - features/labels without a ts behave as epoch-0 constants;
  *  - ties on the max feature ts are broken deterministically:
  *    highest ts, then highest value (the reference leaves this unspecified —
  *    we pin it so results are reproducible and oracle-checkable);
  *  - features sharing (source, entity column, ts column, lag) are coalesced
  *    into a single pass (reference tsquery.go:433-442).
  */
object AsOfJoin {

  private final case class GroupKey(dfId: Int, entityCol: String, tsCol: Option[String],
                                    entityName: String, lagSeconds: Option[Long])

  /** Build a training set: one row per label row, feature columns named by
    * `FeatureSide.outputName`, label value in column `label` (reference P9
    * naming tsquery.go:53, 503).
    *
    * @param mappings entityName -> label column holding that entity's key
    */
  def trainingSet(
      label: DataFrame,
      mappings: Map[String, String],
      labelValueCol: String,
      labelTsCol: Option[String],
      features: Seq[FeatureSide],
      strategy: AsOfStrategy = SortMergeAsOf): DataFrame = {

    require(features.map(_.outputName).distinct.size == features.size,
      "feature output names must be unique")
    features.foreach(f => require(mappings.contains(f.entityName),
      s"label has no entity mapping named ${f.entityName}"))

    val lts = labelTsCol.map(col).getOrElse(Materialize.EpochZero)
    var base = label.withColumn("__lts", lts)

    // Features without their own ts are constants per entity: latest-value
    // reduce then plain LEFT equi-join (reference P3, tsquery.go:354-383).
    // When the LABEL has no ts, timestamped features also reduce to their
    // overall latest value per entity (epoch-0 label sees everything in the
    // reference's Spark path only if f.ts <= 0; but the no-label-ts builder
    // explicitly uses the latest-value CTE — tsquery.go:518-593 — which is
    // the semantics we implement).
    val (plainJoin, asOf) = features.partition(f =>
      f.tsCol.isEmpty || labelTsCol.isEmpty)

    plainJoin.zipWithIndex.foreach { case (f, i) =>
      val reduced = Materialize.latest(f.df, f.entityCol, f.valueCol, f.tsCol)
        .select(col(f.entityCol).as(s"__pe_$i"), col(f.valueCol).as(f.outputName))
      base = base.join(reduced,
        base(mappings(f.entityName)) === reduced(s"__pe_$i"), "left")
        .drop(s"__pe_$i")
    }

    // Coalesce as-of features sharing (source, entity col, ts col, lag) into
    // one pass (reference tsquery.go:433-442, 532-541).
    val groups = asOf.groupBy(f =>
      GroupKey(System.identityHashCode(f.df), f.entityCol, f.tsCol,
        f.entityName, f.lagSeconds)).toSeq.sortBy(_._2.head.outputName)

    groups.zipWithIndex.foreach { case ((_, fs), gi) =>
      val g = fs.head
      val labelEntity = mappings(g.entityName)
      strategy match {
        case SortMergeAsOf =>
          // appends the picked columns in the merge itself — no re-join
          base = sortMergeGroup(base, labelEntity, fs)
        case BroadcastAsOf(maxRows) =>
          base = broadcastGroup(base, labelEntity, fs, maxRows)
        case UnionWindow =>
          val result = unionWindowGroup(base, labelEntity, fs)
          val hasTtl = fs.exists(_.maxAgeSeconds.isDefined)
          val renamed = result
            .withColumnRenamed("__e", s"__ge_$gi").withColumnRenamed("__t", s"__gt_$gi")
            .withColumnRenamed("__gt", s"__gpt_$gi") // picked ts (TTL groups)
          base = base.join(renamed,
            base(labelEntity) === renamed(s"__ge_$gi") &&
              base("__lts") === renamed(s"__gt_$gi"), "left")
            .drop(s"__ge_$gi", s"__gt_$gi")
          if (hasTtl) {
            fs.filter(_.maxAgeSeconds.isDefined).foreach { f =>
              base = base.withColumn(f.outputName,
                when(freshEnough(f, col(s"__gpt_$gi")), col(f.outputName)))
            }
            base = base.drop(s"__gpt_$gi")
          }
      }
    }

    val outCols: Seq[Column] =
      mappings.values.toSeq.distinct.map(col) ++
        labelTsCol.map(col).toSeq ++
        features.map(f => col(f.outputName)) :+
        col(labelValueCol).as("label")
    base.select(outCols: _*)
  }

  /** Shifted, canonicalized feature event stream (one struct col for the
    * group's values so one window pass serves all of them). When any group
    * member has a TTL, the (shifted) event ts rides along as the LAST
    * struct field `__gt` — last so tie-break struct comparisons (which only
    * ever compare rows at EQUAL ts, hence equal `__gt`) are unchanged. */
  private def featureEvents(fs: Seq[FeatureSide]): DataFrame = {
    val g = fs.head
    val ts0 = col(g.tsCol.get)
    val shifted = g.lagSeconds match {
      case Some(s) => ts0 + expr(s"INTERVAL '$s' SECOND")
      case None    => ts0
    }
    val valueFields = fs.map(f => col(f.valueCol).as(f.outputName)) ++
      (if (fs.exists(_.maxAgeSeconds.isDefined)) Seq(shifted.as("__gt"))
       else Nil)
    g.df.select(
      col(g.entityCol).as("__e"),
      shifted.as("__t"),
      struct(valueFields: _*).as("__v"))
  }

  /** TTL mask: true when the picked (shifted) feature ts is within
    * `maxAgeSeconds` of the label ts; features without a TTL are always
    * fresh. `pickedTs` must resolve to the group's `__gt` field. */
  private def freshEnough(f: FeatureSide, pickedTs: => Column): Column =
    f.maxAgeSeconds match {
      case Some(a) => pickedTs >= col("__lts") - expr(s"INTERVAL '$a' SECOND")
      case None    => lit(true)
    }

  /** UnionWindow: tag label keys, union with feature events, one
    * partitionBy(entity) sort, running `last(value ignoring nulls)`. */
  private def unionWindowGroup(base: DataFrame, labelEntity: String,
                               fs: Seq[FeatureSide]): DataFrame = {
    val fev = featureEvents(fs).withColumn("__lbl", lit(0))
    val lkeys = base
      .select(col(labelEntity).as("__e"), col("__lts").as("__t")).distinct()
      .withColumn("__v", lit(null).cast(fev.schema("__v").dataType))
      .withColumn("__lbl", lit(1))
    // Order: ts asc, label rows after feature rows at equal ts (inclusive
    // f.ts <= l.ts), value asc so `last` = max value at the tie ts.
    val w = Window.partitionBy(col("__e"))
      .orderBy(col("__t").asc, col("__lbl").asc, col("__v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val picked = fev.unionByName(lkeys)
      .withColumn("__pick", last(col("__v"), ignoreNulls = true).over(w))
      .filter(col("__lbl") === 1)
    val gt = if (fs.exists(_.maxAgeSeconds.isDefined))
      Seq(col("__pick.__gt").as("__gt")) else Nil
    picked.select(
      (col("__e") +: col("__t") +:
        (fs.map(f => col(s"__pick.${f.outputName}").as(f.outputName)) ++ gt)): _*)
  }

  /** SortMergeAsOf: plan the group through [[graft.plans.AsOfMerge]].
    * `base` rides the merge directly (every label row, all its columns) and
    * comes back with the group's value struct appended — the `__lts` key is
    * the merge's ts, so the UnionWindow distinct+re-join disappears. */
  private def sortMergeGroup(base: DataFrame, labelEntity: String,
                             fs: Seq[FeatureSide]): DataFrame = {
    val spark = base.sparkSession
    graft.plans.AsOfMergeStrategy.setup(spark)
    val fev = featureEvents(fs)
    val lPlan = base.queryExecution.analyzed
    val rPlan = fev.queryExecution.analyzed
    def attr(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
             name: String) =
      plan.output.find(_.name == name).getOrElse(
        throw new IllegalArgumentException(s"no column $name in ${plan.output}"))
    val merged = graft.plans.AsOfMerge(lPlan, rPlan,
      attr(lPlan, labelEntity), attr(lPlan, "__lts"),
      attr(rPlan, "__e"), attr(rPlan, "__t"), attr(rPlan, "__v"))
    val out = org.apache.spark.sql.graft.ColumnBridge.ofRows(spark, merged)
    // NULL label entity / NULL label ts keep NULL features — the reference's
    // equi-join semantics (f.ts <= NULL is false; NULL entity joins nothing),
    // which the other strategies get from their re-join's null rejection
    val pickable = col(labelEntity).isNotNull && col("__lts").isNotNull
    fs.foldLeft(out) { (acc, f) =>
      acc.withColumn(f.outputName,
        when(pickable && freshEnough(f, col("__v.__gt")),
          col(s"__v.${f.outputName}")))
    }.drop("__v")
  }

  /** BroadcastAsOf: per label row, a binary search into the broadcast
    * per-entity (ts, value) arrays — the label table never shuffles. Same
    * NULL masking as [[sortMergeGroup]]. */
  private def broadcastGroup(base: DataFrame, labelEntity: String,
                             fs: Seq[FeatureSide], maxRows: Int): DataFrame = {
    val (table, valueType) =
      graft.plans.AsOfBroadcast.buildTable(featureEvents(fs), maxRows)
    val lookup = org.apache.spark.sql.graft.ColumnBridge.column(
      graft.plans.AsOfBroadcastLookup(
        org.apache.spark.sql.graft.ColumnBridge.expression(col(labelEntity)),
        org.apache.spark.sql.graft.ColumnBridge.expression(col("__lts")),
        table, valueType))
    val pickable = col(labelEntity).isNotNull && col("__lts").isNotNull
    val withPick = base.withColumn("__v", lookup)
    fs.foldLeft(withPick) { (acc, f) =>
      acc.withColumn(f.outputName,
        when(pickable && freshEnough(f, col("__v.__gt")),
          col(s"__v.${f.outputName}")))
    }.drop("__v")
  }
}
