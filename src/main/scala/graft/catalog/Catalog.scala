package graft.catalog

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.types.ResourceSchema

/** (name, variant) identity shared by every resource — reference
  * metadata/metadata.go resource IDs; immutable, versioned by variant. */
final case class ResourceId(name: String, variant: String = "default") {
  override def toString: String = s"$name.$variant"
}

object ResourceId {
  /** Inverse of `toString` for the `name.variant` key string: splits at the
    * last '.', so a name may hold dots but a variant may not (the catalog
    * refuses a dotted variant); no '.' → the default variant. */
  def parse(key: String): ResourceId = {
    val i = key.lastIndexOf('.')
    if (i < 0) ResourceId(key) else ResourceId(key.take(i), key.drop(i + 1))
  }
}

/** A variant holding '.': its `name.variant` key string would not split
  * back, so the catalog refuses to register it. */
final class DottedVariant(id: ResourceId)
  extends IllegalArgumentException(s"variant '${id.variant}' must not contain '.'")

/** A versioned resource — one (name, variant) of a source, feature,
  * on-demand feature, label or training set. */
sealed trait Variant { def id: ResourceId }

/** Source definitions — reference metadata.proto:500-525 (SourceVariant),
  * 631-639 (PrimaryData), 562-629 (Transformation).
  */
sealed trait SourceDef

/** Raw table/file location (PrimaryData). `format` ∈ {parquet, csv, json}. */
final case class PrimaryData(
    path: String,
    format: String = "parquet",
    timestampColumn: Option[String] = None,
    csvHeader: Boolean = true)
    extends SourceDef

/** SQL transformation with `{{name.variant}}` source templating
  * (reference metadata.proto:605-615; templating provider/spark.go:1010-1126). */
final case class SqlTransformation(query: String) extends SourceDef

/** Scala DataFrame transformation — the reference's dill-pickled Python fn
  * (metadata.proto:617-629) re-expressed as a first-class Scala closure.
  * `fnName` makes the definition durable: persistence stores the name and
  * [[CatalogStore.load]] rebinds it from a caller-supplied function registry
  * (closures themselves die with the JVM — same constraint the reference
  * works around by pickling). */
final case class DfTransformation(inputs: Seq[ResourceId], fn: Seq[DataFrame] => DataFrame,
                                  fnName: Option[String] = None)
    extends SourceDef

/** Partition layout hints — reference metadata.proto:583-590. */
sealed trait PartitionHint
final case class HashPartition(column: String, buckets: Int) extends PartitionHint
final case class DailyPartition(column: String) extends PartitionHint

final case class SourceVariant(
    id: ResourceId,
    definition: SourceDef,
    partition: Option[PartitionHint] = None,
    isIncremental: Boolean = false) extends Variant

/** Feature resource — source projected onto the canonical (entity, value, ts)
  * triple (reference metadata.proto:254-284). */
final case class FeatureVariant(
    id: ResourceId,
    source: ResourceId,
    schema: ResourceSchema,
    entity: String = "entity") extends Variant

/** Label with multi-entity mappings (reference metadata.proto:344-381). */
final case class EntityMapping(entityName: String, column: String)
final case class LabelVariant(
    id: ResourceId,
    source: ResourceId,
    mappings: Seq[EntityMapping],
    valueColumn: String,
    timestampColumn: Option[String] = None) extends Variant

/** Lag feature — reference metadata.proto:330-335 (FeatureLag). */
final case class FeatureLag(feature: ResourceId, name: String, lagSeconds: Long)

final case class TrainingSetVariant(
    id: ResourceId,
    label: ResourceId,
    features: Seq[ResourceId],
    lags: Seq[FeatureLag] = Nil) extends Variant

final case class EntityDef(name: String)

/** On-demand (request-time) feature as a Spark SQL expression string over the
  * already-assembled feature row — the durable form of the reference's
  * serialized on-demand function (metadata.proto:326-328; SURVEY §2.10 maps
  * request-time fns to `functions.expr`). Strings persist; closures don't. */
final case class OnDemandVariant(id: ResourceId, expr: String) extends Variant {
  /** Batch application: add the feature to an assembled frame. */
  def apply(df: DataFrame): DataFrame =
    df.withColumn(id.name, org.apache.spark.sql.functions.expr(expr))
}

/** Infrastructure provider record — reference metadata.proto:388-404
  * (Provider: type, software, team, serialized config). Config stays an
  * opaque string map here (no secrets handling in-process). */
final case class ProviderDef(name: String, providerType: String,
                             description: String = "")

/** User resource — reference metadata.proto (User owns resources via the
  * `owner` field on every variant). */
final case class UserDef(name: String)

/** Model resource — reference metadata/metadata.go's Model ↔ feature /
  * training-set lineage (a model records which features and training sets it
  * consumes; the dashboard's "which models use this feature" query). */
final case class ModelDef(name: String, features: Seq[ResourceId] = Nil,
                          trainingSets: Seq[ResourceId] = Nil)

/** (kind, id-string) addressing for cross-kind metadata: tags, properties,
  * owner. Kinds: SOURCE, FEATURE, LABEL, TRAINING_SET, ENTITY, ON_DEMAND,
  * PROVIDER, USER, MODEL. */
final case class ResourceKey(kind: String, id: String)

/** In-memory resource registry + DAG resolution. The reference runs a task DAG
  * over a metadata server (scheduling/task_dag.go:17-73); in a single Spark
  * process that collapses to memoized topological resolution of DataFrames.
  *
  * Thread-safety: synchronized maps; resolution is idempotent (resources are
  * immutable once registered — re-registering the same id with an equal
  * definition is a no-op, a conflicting one throws, matching the reference's
  * equivalence check (metadata.proto:244-247 GetEquivalentRequest)).
  */
final class Catalog(spark: SparkSession) {
  private val sources   = mutable.LinkedHashMap.empty[ResourceId, SourceVariant]
  private val features  = mutable.LinkedHashMap.empty[ResourceId, FeatureVariant]
  private val labels    = mutable.LinkedHashMap.empty[ResourceId, LabelVariant]
  private val tsets     = mutable.LinkedHashMap.empty[ResourceId, TrainingSetVariant]
  private val entities  = mutable.LinkedHashMap.empty[String, EntityDef]
  private val onDemands = mutable.LinkedHashMap.empty[ResourceId, OnDemandVariant]
  private val providers = mutable.LinkedHashMap.empty[String, ProviderDef]
  private val users     = mutable.LinkedHashMap.empty[String, UserDef]
  private val models    = mutable.LinkedHashMap.empty[String, ModelDef]
  private val tagMap    = mutable.LinkedHashMap.empty[ResourceKey, Seq[String]]
  private val propMap   = mutable.LinkedHashMap.empty[ResourceKey, Map[String, String]]
  private val resolved  = mutable.HashMap.empty[ResourceId, DataFrame]
  private val statusMap = mutable.LinkedHashMap.empty[ResourceKey, (Int, String)]
  private val stagedSet = mutable.LinkedHashSet.empty[ResourceKey]

  private def put[V](m: mutable.Map[ResourceId, V], id: ResourceId, v: V): V =
    synchronized {
      if (id.variant.contains('.')) throw new DottedVariant(id)
      m.get(id) match {
        case Some(existing) if existing == v => existing
        case Some(_) =>
          throw new IllegalArgumentException(
            s"resource $id already registered with a different definition")
        case None => m.put(id, v); v
      }
    }

  def registerSource(s: SourceVariant): SourceVariant     = put(sources, s.id, s)
  def registerFeature(f: FeatureVariant): FeatureVariant  = put(features, f.id, f)
  def registerLabel(l: LabelVariant): LabelVariant        = put(labels, l.id, l)
  def registerTrainingSet(t: TrainingSetVariant): TrainingSetVariant = put(tsets, t.id, t)
  def registerEntity(e: EntityDef): EntityDef =
    synchronized { entities.getOrElseUpdate(e.name, e) }
  def registerOnDemand(o: OnDemandVariant): OnDemandVariant = put(onDemands, o.id, o)

  def source(id: ResourceId): SourceVariant           = sources(id)
  def feature(id: ResourceId): FeatureVariant         = features(id)
  def label(id: ResourceId): LabelVariant             = labels(id)
  def trainingSet(id: ResourceId): TrainingSetVariant = tsets(id)
  def onDemand(id: ResourceId): OnDemandVariant       = onDemands(id)
  def allSources: Seq[SourceVariant]   = synchronized(sources.values.toSeq)
  def allFeatures: Seq[FeatureVariant] = synchronized(features.values.toSeq)
  def allLabels: Seq[LabelVariant]     = synchronized(labels.values.toSeq)
  def allTrainingSets: Seq[TrainingSetVariant] = synchronized(tsets.values.toSeq)
  def allEntities: Seq[EntityDef]      = synchronized(entities.values.toSeq)
  def allOnDemands: Seq[OnDemandVariant] = synchronized(onDemands.values.toSeq)

  // ------------------------- providers / users / models + tags & lineage

  def registerProvider(p: ProviderDef): ProviderDef = synchronized {
    providers.get(p.name) match {
      case Some(existing) if existing == p => existing
      case Some(_) => throw new IllegalArgumentException(
        s"provider ${p.name} already registered with a different definition")
      case None => providers.put(p.name, p); p
    }
  }
  def registerUser(u: UserDef): UserDef =
    synchronized(users.getOrElseUpdate(u.name, u))
  def registerModel(m: ModelDef): ModelDef = synchronized {
    // models ACCRETE lineage (the reference logs each training run's
    // associations): re-registering merges feature/training-set lists
    val merged = models.get(m.name) match {
      case Some(prev) => ModelDef(m.name,
        (prev.features ++ m.features).distinct,
        (prev.trainingSets ++ m.trainingSets).distinct)
      case None => m
    }
    models.put(m.name, merged); merged
  }

  def provider(name: String): ProviderDef = providers(name)
  def model(name: String): ModelDef       = models(name)
  def allProviders: Seq[ProviderDef] = synchronized(providers.values.toSeq)
  def allUsers: Seq[UserDef]         = synchronized(users.values.toSeq)
  def allModels: Seq[ModelDef]       = synchronized(models.values.toSeq)

  /** Attach tags to any resource (append, deduplicated, order kept). */
  def addTags(key: ResourceKey, tags: Seq[String]): Unit = synchronized {
    tagMap.put(key, (tagMap.getOrElse(key, Nil) ++ tags).distinct)
  }
  def setProperties(key: ResourceKey, props: Map[String, String]): Unit =
    synchronized { propMap.put(key, propMap.getOrElse(key, Map.empty) ++ props) }
  def tags(key: ResourceKey): Seq[String] = synchronized(tagMap.getOrElse(key, Nil))
  def properties(key: ResourceKey): Map[String, String] =
    synchronized(propMap.getOrElse(key, Map.empty))
  def allTags: Seq[(ResourceKey, Seq[String])] = synchronized(tagMap.toSeq)
  def allProperties: Seq[(ResourceKey, Map[String, String])] =
    synchronized(propMap.toSeq)

  /** Every resource carrying `tag`, in registration order. */
  def resourcesTagged(tag: String): Seq[ResourceKey] =
    synchronized(tagMap.collect { case (k, ts) if ts.contains(tag) => k }.toSeq)

  // ------------------------------------- status + staged deletion lifecycle

  /** Lifecycle status per resource — the reference's ResourceStatus.Status
    * enum (metadata.proto:145-159): 0 NO_STATUS, 1 CREATED, 2 PENDING,
    * 3 READY, 4 FAILED, 5 RUNNING, 6 CANCELLED, 7 DELETING. Resources
    * default to NO_STATUS until set (registration paths that want the
    * reference's CREATED-on-create call setStatus explicitly). */
  def setStatus(key: ResourceKey, status: Int, message: String = ""): Unit =
    synchronized { statusMap.put(key, (status, message)) }
  def status(key: ResourceKey): (Int, String) =
    synchronized(statusMap.getOrElse(key, (0, "")))
  def allStatuses: Seq[(ResourceKey, (Int, String))] = synchronized(statusMap.toSeq)

  /** Resources whose definitions directly depend on `key` and are not
    * themselves already staged for deletion — the reference's direct-
    * dependency count that gates MarkForDeletion
    * (resources_repository.go:513-528; staged resources have their edges
    * deleted, so they stop blocking their upstreams). Edges come from the
    * same dependency model the dashboard export uses ([[Lineage.edges]]);
    * PROVIDER dependents are the resources whose `provider` property names
    * it (the catalog's durable form of the variant's provider field). */
  def dependentsOf(key: ResourceKey): Seq[ResourceKey] = synchronized {
    val deps: Seq[ResourceKey] =
      if (key.kind == "PROVIDER")
        // the provider binding is written under either key depending on the
        // path: direct catalog users set "provider", the gRPC serve layer
        // stores wire metadata under a "__"-prefix ("__provider") — the
        // deletion gate must see both or wire-registered dependents would
        // never block a provider delete
        propMap.collect { case (k, ps)
          if ps.get("provider").contains(key.id) ||
             ps.get("__provider").contains(key.id) => k }.toSeq
      else {
        val kindOf = Map("source" -> "SOURCE", "feature" -> "FEATURE",
          "label" -> "LABEL", "training_set" -> "TRAINING_SET",
          "model" -> "MODEL")
        Lineage.edges(this).collect {
          case (res, resType, Some(on), _) if on == key.id &&
            kindOf.contains(resType) => ResourceKey(kindOf(resType), res)
        }
      }
    deps.distinct.filterNot(stagedSet.contains)
  }

  private val deletableKinds =
    Set("SOURCE", "FEATURE", "LABEL", "TRAINING_SET", "PROVIDER", "ON_DEMAND")

  private def lookupKey(key: ResourceKey): Option[Any] = {
    def rid = ResourceId.parse(key.id)
    key.kind match {
      case "SOURCE" => sources.get(rid)
      case "FEATURE" => features.get(rid)
      case "LABEL" => labels.get(rid)
      case "TRAINING_SET" => tsets.get(rid)
      case "ON_DEMAND" => onDemands.get(rid)
      case "PROVIDER" => providers.get(key.id)
      case "USER" => users.get(key.id)
      case "MODEL" => models.get(key.id)
      case "ENTITY" => entities.get(key.id)
      case _ => None
    }
  }

  /** Stage a resource for deletion — the reference's two-phase lifecycle
    * (metadata.proto:46-51, MarkForDeletion → staged → FinalizeDeletion).
    * Refused when the resource is unknown, of a non-deletable kind, or has
    * live dependents in the lineage DAG (resources_repository.go:258-261).
    * The resource stays readable via [[stagedForDeletion]] but counts as
    * deleted everywhere else ([[isStaged]]); status moves to DELETING. */
  def markForDeletion(key: ResourceKey): Unit = synchronized {
    // kind/staged violations are PRECONDITION failures (IllegalState →
    // FAILED_PRECONDITION on the wire); only an unknown resource is
    // IllegalArgument → NOT_FOUND, matching the reference's error split
    if (!deletableKinds.contains(key.kind))
      throw new IllegalStateException(
        s"resource kind ${key.kind} is not deletable")
    require(lookupKey(key).isDefined, s"unknown resource $key")
    if (stagedSet.contains(key))
      throw new IllegalStateException(s"$key is already staged for deletion")
    val deps = dependentsOf(key)
    if (deps.nonEmpty)
      throw new IllegalStateException(
        s"cannot delete $key: ${deps.size} live dependent(s) — " +
          deps.map(d => s"${d.kind} ${d.id}").mkString(", "))
    stagedSet.add(key)
    setStatus(key, 7) // DELETING
  }

  /** The staged resource (reference GetStagedForDeletionResource —
    * DeletedOnly lookup): None unless `key` was marked and not finalized. */
  def stagedForDeletion(key: ResourceKey): Option[Any] =
    synchronized { if (stagedSet.contains(key)) lookupKey(key) else None }
  def isStaged(key: ResourceKey): Boolean = synchronized(stagedSet.contains(key))
  def allStaged: Seq[ResourceKey] = synchronized(stagedSet.toSeq)

  /** Persistence-only restore of a staged mark (no dependent re-check: a
    * prune may have staged a whole closure whose members still reference
    * each other). */
  private[catalog] def restoreStaged(key: ResourceKey): Unit =
    synchronized { stagedSet.add(key) }

  /** Complete a staged deletion: erase the resource from the registry and
    * run `physical` (the caller's scrubLatest/gcVersions/forget half) —
    * the reference's FinalizeDeletion → Archive (metadata.go:2781-2794).
    * Refused unless the resource was first marked. */
  def finalizeDeletion(key: ResourceKey,
                       physical: ResourceKey => Unit = _ => ()): Unit = {
    synchronized {
      require(stagedSet.contains(key),
        s"$key is not staged for deletion — MarkForDeletion first")
      def rid = ResourceId.parse(key.id)
      key.kind match {
        case "SOURCE" => sources.remove(rid); resolved.remove(rid)
        case "FEATURE" => features.remove(rid)
        case "LABEL" => labels.remove(rid)
        case "TRAINING_SET" => tsets.remove(rid)
        case "ON_DEMAND" => onDemands.remove(rid)
        case "PROVIDER" => providers.remove(key.id)
        case _ => ()
      }
      stagedSet.remove(key)
      statusMap.remove(key)
      tagMap.remove(key)
      propMap.remove(key)
    }
    physical(key) // outside the lock: may do real I/O
  }

  /** Cascade deletion — the reference's PruneResource
    * (resources_repository.go:320-420): stage the resource AND its whole
    * downstream closure (everything that transitively depends on it), in
    * dependents-first order. Returns the staged keys. Finalization stays
    * per-resource. */
  def pruneResource(key: ResourceKey): Seq[ResourceKey] = synchronized {
    if (!deletableKinds.contains(key.kind))
      throw new IllegalStateException(
        s"resource kind ${key.kind} is not deletable")
    require(lookupKey(key).isDefined, s"unknown resource $key")
    val closure = mutable.LinkedHashSet.empty[ResourceKey]
    def walk(k: ResourceKey): Unit =
      dependentsOf(k).foreach { d =>
        if (!closure.contains(d) && deletableKinds.contains(d.kind)) {
          walk(d); closure.add(d)
        }
      }
    walk(key)
    // providers outlive their resources in the reference's prune (the
    // provider must exist until everything on it is gone)
    val toStage = (closure.toSeq ++
      (if (key.kind == "PROVIDER") Nil else Seq(key))).filterNot(stagedSet.contains)
    toStage.foreach { k => stagedSet.add(k); setStatus(k, 7) }
    toStage
  }

  /** Features a model consumes — its direct associations plus the features
    * of every training set it declares (reference metadata.go lineage). */
  def featuresConsumedBy(modelName: String): Seq[ResourceId] = synchronized {
    models.get(modelName).map { m =>
      (m.features ++ m.trainingSets.flatMap(t => tsets.get(t).map(_.features)
        .getOrElse(Nil))).distinct
    }.getOrElse(Nil)
  }

  /** Models consuming a feature (directly or through a training set) — the
    * dashboard's reverse-lineage query. */
  def modelsConsuming(featureId: ResourceId): Seq[String] = synchronized {
    models.values.collect {
      case m if m.features.contains(featureId) ||
        m.trainingSets.exists(t =>
          tsets.get(t).exists(_.features.contains(featureId))) => m.name
    }.toSeq
  }

  /** Resolve a source to a DataFrame, recursively materializing upstream
    * transformations (reference coordinator/tasks/source.go:429-533). Memoized;
    * cycles are detected and rejected. Lazy DataFrames keep the whole DAG a
    * single Catalyst plan — no intermediate writes unless asked for.
    */
  def resolve(id: ResourceId, inFlight: Set[ResourceId] = Set.empty): DataFrame = {
    synchronized(resolved.get(id)) match {
      case Some(df) => df
      case None =>
        if (inFlight.contains(id))
          throw new IllegalStateException(s"cycle in source DAG at $id")
        val sv = sources.getOrElse(id,
          throw new NoSuchElementException(s"unknown source $id"))
        val df = sv.definition match {
          case p: PrimaryData => graft.sources.Readers.readPrimary(spark, p)
          case SqlTransformation(q) =>
            graft.transform.SqlTransform.run(spark, q,
              rid => resolve(rid, inFlight + id))
          case DfTransformation(inputs, fn, _) =>
            fn(inputs.map(i => resolve(i, inFlight + id)))
        }
        synchronized(resolved.getOrElseUpdate(id, df))
    }
  }

  /** The feature's source projected onto (entity, value, ts). */
  def featureTriple(id: ResourceId): DataFrame = {
    val f = feature(id)
    graft.ops.Materialize.toTriple(resolve(f.source), f.schema)
  }

  // ------------------------------------------------------------- search

  /** Free-text resource search — the reference dashboard's typesense-backed
    * metadata search (metadata/search) in-process: every resource gets a
    * token bag from its kind, name, variant, entity, tags, and property
    * keys/values; a query term hits a resource when it PREFIX-matches any
    * token (the useful half of typo tolerance, deterministic); score =
    * number of distinct query terms that hit. Rank: score desc, then
    * (kind, id) — fully deterministic and metadata-scale (the catalog is
    * small by definition; a 10⁶-resource deployment would hand this same
    * token table to a search service). */
  def search(query: String, limit: Int = 20): Seq[(ResourceKey, Int)] = {
    val terms = tokenize(Seq(query)).toSeq.distinct
    if (terms.isEmpty) Nil
    else searchTokens
      .map { case (k, toks) =>
        k -> terms.count(t => toks.exists(_.startsWith(t)))
      }
      .filter(_._2 > 0)
      .sortBy { case (k, score) => (-score, k.kind, k.id) }
      .take(limit)
  }

  private def tokenize(parts: Seq[String]): Set[String] =
    parts.flatMap(_.toLowerCase.split("[^a-z0-9]+")).filter(_.nonEmpty).toSet

  /** (resource, token bag) for every registered resource. */
  private def searchTokens: Seq[(ResourceKey, Set[String])] = synchronized {
    def idToks(id: ResourceId) = Seq(id.name, id.variant)
    val base: Seq[(ResourceKey, Seq[String])] =
      sources.values.map(s =>
        ResourceKey("SOURCE", s.id.toString) -> idToks(s.id)).toSeq ++
      features.values.map(f =>
        ResourceKey("FEATURE", f.id.toString) ->
          (idToks(f.id) :+ f.entity)).toSeq ++
      labels.values.map(l =>
        ResourceKey("LABEL", l.id.toString) ->
          (idToks(l.id) ++ l.mappings.map(_.entityName))).toSeq ++
      tsets.values.map(t =>
        ResourceKey("TRAINING_SET", t.id.toString) -> idToks(t.id)).toSeq ++
      entities.values.map(e =>
        ResourceKey("ENTITY", e.name) -> Seq(e.name)).toSeq ++
      onDemands.values.map(o =>
        ResourceKey("ON_DEMAND", o.id.toString) -> idToks(o.id)).toSeq ++
      providers.values.map(p =>
        ResourceKey("PROVIDER", p.name) ->
          Seq(p.name, p.providerType, p.description)).toSeq ++
      users.values.map(u => ResourceKey("USER", u.name) -> Seq(u.name)).toSeq ++
      models.values.map(m => ResourceKey("MODEL", m.name) -> Seq(m.name)).toSeq
    base.map { case (k, parts) =>
      k -> (tokenize(parts) ++
        tokenize(tagMap.getOrElse(k, Nil)) ++
        tokenize(propMap.getOrElse(k, Map.empty)
          .flatMap { case (a, b) => Seq(a, b) }.toSeq))
    }
  }
}
