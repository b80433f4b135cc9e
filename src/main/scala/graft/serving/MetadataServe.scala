package graft.serving

import org.apache.spark.sql.DataFrame
import org.sparkproject.connect.grpc.{Status, StatusRuntimeException}

import graft.catalog._
import Grpc.readNameVariant
import ProtoWire.{R, W}

/** The reference's metadata/registration gRPC service, served for real —
  * `featureform.serving.metadata.proto.Metadata`
  * (/root/reference/metadata/proto/metadata.proto:19-71, server role
  * metadata/metadata.go) on an actual gRPC/HTTP2 endpoint over the same
  * shaded-runtime + [[ProtoWire]] stack as [[GrpcServe]]. This is the
  * plane `client.apply()` speaks: Create* registrations, the Get* and
  * List* read streams, GetEquivalent, Run, SetResourceStatus, and the staged
  * deletion lifecycle (MarkForDeletion → GetStagedForDeletionResource →
  * FinalizeDeletion / PruneResource, metadata.proto:46-53).
  *
  * Backing state is the in-process [[graft.catalog.Catalog]] (durable via
  * [[graft.catalog.CatalogStore]] under FenceGuard); wire messages map to
  * catalog resources:
  *  - SourceVariant.primaryData.filestore → [[PrimaryData]] (format by
  *    extension); .transformation.SQLTransformation → [[SqlTransformation]]
  *    (`{{name.variant}}` templating); .DFTransformation → a named fn from
  *    the server's `dfFns` registry (the durable form of the reference's
  *    dill bytes — metadata.proto:617-629).
  *  - FeatureVariant mode PRECOMPUTED → [[FeatureVariant]] over Columns;
  *    mode CLIENT_COMPUTED → [[OnDemandVariant]] from
  *    additional_parameters.ondemand.definition (or the function bytes as
  *    UTF-8 — our on-demand definitions are Spark SQL expression strings).
  *  - LabelVariant.entity_mappings → [[LabelVariant]] (deprecated Columns
  *    accepted as a single-mapping fallback, metadata.proto:355-361).
  *  - TrainingSetVariant features/label/feature_lags → [[TrainingSetVariant]].
  *  - owner/description/provider/schedule and unmodeled typed fields
  *    (ValueType, serialized_config) ride the catalog property map under
  *    reserved `__`-prefixed keys and are re-emitted verbatim; user-set
  *    Tags/Properties round-trip unprefixed.
  *
  * Create semantics follow metadata.go:3581-3641 (genericCreate): an
  * equivalent re-registration is a no-op, a conflicting one is
  * ALREADY_EXISTS; the parent resource's default variant is the LATEST
  * created (setDefaultVariant on every create), variants list in
  * registration order. GetEquivalent matches on key attributes and
  * returns an EMPTY ResourceVariant when nothing matches
  * (metadata.go:3430-3487). The same handlers are also exposed under the
  * `featureform.serving.metadata.proto.Api` name (the api-server proxy
  * role, metadata.proto:74-117).
  */
final class MetadataServe(catalog: Catalog, port: Int = 0,
                          /** DF-transformation function registry — wire
                            * DFTransformations bind here by source_text /
                            * canonical name (same contract as
                            * CatalogStore.load). */
                          dfFns: Map[String, Seq[DataFrame] => DataFrame] = Map.empty,
                          /** Physical half of FinalizeDeletion (the
                            * scrubLatest/gcVersions/forget hook). */
                          onFinalize: ResourceKey => Unit = _ => (),
                          /** Sink for the Api service's WriteFeatures /
                            * WriteLabels client streams (the reference's
                            * streaming registration writes,
                            * metadata.proto:116-117). None →
                            * UNIMPLEMENTED, like a server built without
                            * the streaming provider. */
                          store: Option[OnlineStore] = None,
                          /** Ledger behind the
                            * `featureform.scheduling.proto.Tasks` service
                            * (the reference metadata server hosts BOTH
                            * services in one process, metadata.go:2026-
                            * 2345). None → the Tasks service is not
                            * registered on the endpoint. */
                          tasks: Option[graft.sched.TaskRunner] = None,
                          /** Cap on concurrently long-polling
                            * WatchForCancel calls; beyond it a call
                            * answers the current status at once. */
                          watchCancelMax: Int = MetadataServe.WatchCancelMax,
                          val metrics: Metrics = new Metrics)
    extends Grpc.Endpoint(port) {
  import MetadataServe._

  // ------------------------------------------------------------- helpers

  private def prop(key: ResourceKey, name: String): Option[String] =
    catalog.properties(key).get(name).filter(_.nonEmpty)

  private def setMeta(key: ResourceKey, pairs: (String, String)*): Unit = {
    val m = pairs.collect { case (k, v) if v.nonEmpty => s"__$k" -> v }.toMap
    if (m.nonEmpty) catalog.setProperties(key, m)
  }

  private def userProps(key: ResourceKey): Seq[(String, String)] =
    catalog.properties(key).toSeq.filterNot(_._1.startsWith("__")).sortBy(_._1)

  private def notFound(what: String): Nothing =
    throw Status.NOT_FOUND.withDescription(what).asRuntimeException()

  private def conflict(e: IllegalArgumentException): Nothing =
    throw Status.ALREADY_EXISTS
      .withDescription(Option(e.getMessage).getOrElse("conflicting definition"))
      .asRuntimeException()

  private def invalid(msg: String): Nothing =
    throw Status.INVALID_ARGUMENT.withDescription(msg).asRuntimeException()

  /** Live (non-staged) variants of one catalog kind, registration order —
    * the lookup behind every Get*, List* and GetEquivalent answer. */
  private def live(kind: String): Seq[Variant] = {
    val all: Seq[Variant] = kind match {
      case "SOURCE" => catalog.allSources
      case "FEATURE" => catalog.allFeatures
      case "ON_DEMAND" => catalog.allOnDemands
      case "LABEL" => catalog.allLabels
      case "TRAINING_SET" => catalog.allTrainingSets
    }
    all.filterNot(v => catalog.isStaged(ResourceKey(kind, v.id.toString)))
  }

  /** The key a wire id names among `kinds` (a FEATURE id names a
    * precomputed or an on-demand variant): the first kind with a live
    * variant of that id, else the first with a staged one, else the first
    * kind. Precomputed therefore wins, as in GetFeatureVariants. */
  private def keyIn(kinds: Seq[String], id: String): ResourceKey = {
    val keys = kinds.map(ResourceKey(_, id))
    keys.find(k => live(k.kind).exists(_.id.toString == id))
      .orElse(keys.find(catalog.isStaged)).getOrElse(keys.head)
  }

  /** A wire ResourceID's catalog key, with FEATURE resolved by [[keyIn]]. */
  private def resolveKey(key: ResourceKey): ResourceKey =
    if (key.kind == "FEATURE") keyIn(Families("FEATURE")._2, key.id) else key

  /** The registration tail every Create handler shares: add the resource
    * (a conflicting re-registration is ALREADY_EXISTS, a variant the
    * catalog refuses as dotted INVALID_ARGUMENT), then store its
    * wire metadata, tags and properties and mark it CREATED. */
  private def register(key: ResourceKey, meta: Seq[(String, String)],
                       tags: Seq[String], props: Seq[(String, String)])
                      (add: => Any): Array[Byte] = {
    try add catch {
      case e: DottedVariant => invalid(e.getMessage)
      case e: IllegalArgumentException => conflict(e)
    }
    setMeta(key, meta: _*)
    if (tags.nonEmpty) catalog.addTags(key, tags)
    if (props.nonEmpty) catalog.setProperties(key, props.toMap)
    catalog.setStatus(key, StCreated)
    Empty
  }

  // ------------------------------------------------------ variant decoders
  // One decoder per *Variant message, shared by its Create handler and
  // GetEquivalent. A decoder answers INVALID_ARGUMENT for a message Create
  // must refuse; GetEquivalent reads that as "no equivalent".

  private def decodeSource(body: R): Decoded = {
    var name = ""; var variant = ""
    var defn: Option[SourceDef] = None
    var partition: Option[PartitionHint] = None
    var owner = ""; var desc = ""; var provider = ""; var schedule = ""
    var tags = Seq.empty[String]; var props = Seq.empty[(String, String)]
    body.fields {
      case (1, _) => name = body.readString()
      case (2, _) => variant = body.readString()
      case (4, _) => owner = body.readString()
      case (5, _) => desc = body.readString()
      case (6, _) => provider = body.readString()
      case (14, _) => // Transformation
        val t = body.readSlice()
        t.fields {
          case (1, _) => // SQLTransformation{query=1}
            val s = t.readSlice()
            s.fields {
              case (1, _) => defn = Some(SqlTransformation(s.readString()))
            }
          case (2, _) => // DFTransformation{query=1, inputs=2, source_text=3}
            val d = t.readSlice()
            var fnName = ""
            val inputs = scala.collection.mutable.ArrayBuffer.empty[ResourceId]
            d.fields {
              case (1, _) =>
                val b = d.readBytes() // dill stand-in: a UTF-8 fn name
                if (fnName.isEmpty)
                  fnName = new String(b, java.nio.charset.StandardCharsets.UTF_8)
              case (2, _) => inputs += readNameVariant(d.readSlice())
              case (3, _) => fnName = d.readString()
              case (8, _) => if (fnName.isEmpty) fnName = d.readString()
            }
            val fn = dfFns.getOrElse(fnName, invalid(
              s"df transformation '$fnName' is not in the server function registry"))
            defn = Some(DfTransformation(inputs.toSeq, fn, Some(fnName)))
          case (4, _) => // HashPartition{column=1, buckets=2}
            val h = t.readSlice()
            var c = ""; var b = 0
            h.fields {
              case (1, _) => c = h.readString()
              case (2, _) => b = h.readVarint().toInt
            }
            partition = Some(HashPartition(c, b))
          case (5, _) => // DailyPartition{column=1}
            val dp = t.readSlice()
            var c = ""
            dp.fields {
              case (1, _) => c = dp.readString()
            }
            partition = Some(DailyPartition(c))
        }
      case (15, _) => // PrimaryData
        val p = body.readSlice()
        var path = ""; var tsCol: Option[String] = None
        p.fields {
          case (3, _) => // FileStoreTable{path=1}
            val f = p.readSlice()
            f.fields {
              case (1, _) => path = f.readString()
            }
          case (2, _) => tsCol = Some(p.readString()).filter(_.nonEmpty)
        }
        if (path.isEmpty) invalid("primaryData requires a filestore path")
        val fmt =
          if (path.endsWith(".csv")) "csv"
          else if (path.endsWith(".json") || path.endsWith(".jsonl")) "json"
          else if (path.endsWith(".orc")) "orc"
          else "parquet"
        defn = Some(PrimaryData(path, fmt, tsCol))
      case (16, _) => schedule = body.readString()
      case (17, _) => tags = readTags(body.readSlice())
      case (18, _) => props = readProps(body.readSlice())
    }
    val d = defn.getOrElse(invalid("source definition (transformation or primaryData) required"))
    Decoded("SOURCE", SourceVariant(ResourceId(name, variant), d, partition),
      Seq("owner" -> owner, "description" -> desc, "provider" -> provider,
        "schedule" -> schedule), tags, props)
  }

  private def decodeFeature(body: R): Decoded = {
    var name = ""; var variant = ""
    var source = ResourceId("", "")
    var entity = ""; var owner = ""; var desc = ""; var provider = ""
    var colEntity = ""; var colValue = ""; var colTs = ""
    var mode = 0
    var onDemandDef = ""; var fnBytes = ""
    var typeB64 = ""
    var tags = Seq.empty[String]; var props = Seq.empty[(String, String)]
    body.fields {
      case (1, _) => name = body.readString()
      case (2, _) => variant = body.readString()
      case (3, _) => source = readNameVariant(body.readSlice())
      case (5, _) => entity = body.readString()
      case (7, _) => owner = body.readString()
      case (8, _) => desc = body.readString()
      case (9, _) => provider = body.readString()
      case (12, _) => // Columns{entity=1, value=2, ts=3}
        val c = body.readSlice()
        c.fields {
          case (1, _) => colEntity = c.readString()
          case (2, _) => colValue = c.readString()
          case (3, _) => colTs = c.readString()
        }
      case (17, _) => // PythonFunction{query=1} — our durable form is UTF-8
        val f = body.readSlice()
        f.fields {
          case (1, _) => fnBytes = new String(f.readBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
        }
      case (18, _) => mode = body.readVarint().toInt
      case (22, _) => // FeatureParameters{ondemand=2{definition=1}}
        val ap = body.readSlice()
        ap.fields {
          case (2, _) =>
            val od = ap.readSlice()
            od.fields {
              case (1, _) => onDemandDef = od.readString()
            }
        }
      case (25, _) => typeB64 = b64(body.readBytes()) // ValueType, verbatim
      case (15, _) => tags = readTags(body.readSlice())
      case (16, _) => props = readProps(body.readSlice())
    }
    val id = ResourceId(name, variant)
    val meta = Seq("owner" -> owner, "description" -> desc,
      "provider" -> provider, "type" -> typeB64)
    if (mode == 1 || (onDemandDef.nonEmpty && colValue.isEmpty)) {
      val expr = if (onDemandDef.nonEmpty) onDemandDef else fnBytes
      if (expr.isEmpty) invalid("CLIENT_COMPUTED feature requires " +
        "additional_parameters.ondemand.definition (a Spark SQL expression)")
      Decoded("ON_DEMAND", OnDemandVariant(id, expr), meta, tags, props)
    } else {
      if (colValue.isEmpty) invalid("PRECOMPUTED feature requires columns")
      val schema = graft.types.ResourceSchema(colEntity, colValue,
        Some(colTs).filter(_.nonEmpty))
      Decoded("FEATURE", FeatureVariant(id, source, schema,
        if (entity.nonEmpty) entity else colEntity), meta, tags, props)
    }
  }

  private def decodeLabel(body: R): Decoded = {
    var name = ""; var variant = ""
    var source = ResourceId("", "")
    var entity = ""; var owner = ""; var desc = ""; var provider = ""
    var colEntity = ""; var colValue = ""; var colTs = ""
    var mappings = Seq.empty[EntityMapping]
    var emValue = ""; var emTs = ""
    var typeB64 = ""
    var tags = Seq.empty[String]; var props = Seq.empty[(String, String)]
    body.fields {
      case (1, _) => name = body.readString()
      case (2, _) => variant = body.readString()
      case (3, _) => desc = body.readString()
      case (5, _) => source = readNameVariant(body.readSlice())
      case (6, _) => entity = body.readString()
      case (8, _) => owner = body.readString()
      case (9, _) => provider = body.readString()
      case (12, _) => // deprecated Columns fallback
        val c = body.readSlice()
        c.fields {
          case (1, _) => colEntity = c.readString()
          case (2, _) => colValue = c.readString()
          case (3, _) => colTs = c.readString()
        }
      case (22, _) => // EntityMappings{mappings=1, value_column=2, timestamp_column=3}
        val em = body.readSlice()
        val ms = scala.collection.mutable.ArrayBuffer.empty[EntityMapping]
        em.fields {
          case (1, _) => // EntityMapping{name=1, entity_column=2}
            val m = em.readSlice()
            var n = ""; var col = ""
            m.fields {
              case (1, _) => n = m.readString()
              case (2, _) => col = m.readString()
            }
            ms += EntityMapping(n, col)
          case (2, _) => emValue = em.readString()
          case (3, _) => emTs = em.readString()
        }
        mappings = ms.toSeq
      case (18, _) => typeB64 = b64(body.readBytes())
      case (13, _) => tags = readTags(body.readSlice())
      case (14, _) => props = readProps(body.readSlice())
    }
    val (finalMappings, valueCol, tsCol) =
      if (mappings.nonEmpty) (mappings, emValue, Some(emTs).filter(_.nonEmpty))
      else if (colValue.nonEmpty)
        (Seq(EntityMapping(if (entity.nonEmpty) entity else "entity", colEntity)),
          colValue, Some(colTs).filter(_.nonEmpty))
      else invalid("label requires entity_mappings (or deprecated columns)")
    Decoded("LABEL", LabelVariant(ResourceId(name, variant), source,
      finalMappings, valueCol, tsCol),
      Seq("owner" -> owner, "description" -> desc, "provider" -> provider,
        "type" -> typeB64), tags, props)
  }

  private def decodeTrainingSet(body: R): Decoded = {
    var name = ""; var variant = ""
    var owner = ""; var desc = ""; var provider = ""; var schedule = ""
    var label = ResourceId("", "")
    val feats = scala.collection.mutable.ArrayBuffer.empty[ResourceId]
    val lags = scala.collection.mutable.ArrayBuffer.empty[FeatureLag]
    var tags = Seq.empty[String]; var props = Seq.empty[(String, String)]
    body.fields {
      case (1, _) => name = body.readString()
      case (2, _) => variant = body.readString()
      case (3, _) => desc = body.readString()
      case (4, _) => owner = body.readString()
      case (6, _) => provider = body.readString()
      case (8, _) => feats += readNameVariant(body.readSlice())
      case (9, _) => label = readNameVariant(body.readSlice())
      case (14, _) => schedule = body.readString()
      case (15, _) => // FeatureLag{feature=1, variant=2, name=3, lag=4 Duration}
        val fl = body.readSlice()
        var f = ""; var v = ""; var lagName = ""; var seconds = 0L
        fl.fields {
          case (1, _) => f = fl.readString()
          case (2, _) => v = fl.readString()
          case (3, _) => lagName = fl.readString()
          case (4, _) => // Duration{seconds=1, nanos=2}
            val d = fl.readSlice()
            d.fields {
              case (1, _) => seconds = d.readVarint()
            }
        }
        lags += FeatureLag(ResourceId(f, v), lagName, seconds)
      case (16, _) => tags = readTags(body.readSlice())
      case (17, _) => props = readProps(body.readSlice())
    }
    Decoded("TRAINING_SET", TrainingSetVariant(ResourceId(name, variant), label,
      feats.toSeq, lags.toSeq),
      Seq("owner" -> owner, "description" -> desc, "provider" -> provider,
        "schedule" -> schedule), tags, props)
  }

  /** ResourceVariant oneof field → its decoder. */
  private val decoders: Map[Int, R => Decoded] = Map(1 -> decodeFeature,
    2 -> decodeLabel, 3 -> decodeTrainingSet, 4 -> decodeSource)

  // ------------------------------------------------------ Create handlers

  /** Create*VariantRequest{variant=1}: decode, register. */
  private def createVariant(what: String, decode: R => Decoded)
                           (req: Array[Byte]): Array[Byte] = {
    val d = decode(firstSlice(req, 1).getOrElse(invalid(s"$what required")))
    register(ResourceKey(d.kind, d.res.id.toString), d.meta, d.tags, d.props) {
      d.res match {
        case s: SourceVariant => catalog.registerSource(s)
        case f: FeatureVariant => catalog.registerFeature(f)
        case o: OnDemandVariant => catalog.registerOnDemand(o)
        case l: LabelVariant => catalog.registerLabel(l)
        case t: TrainingSetVariant => catalog.registerTrainingSet(t)
      }
    }
  }

  private def createEntity(req: Array[Byte]): Array[Byte] = {
    val body = firstSlice(req, 1).getOrElse(invalid("entity required"))
    var name = ""; var desc = ""
    var tags = Seq.empty[String]; var props = Seq.empty[(String, String)]
    body.fields {
      case (1, _) => name = body.readString()
      case (2, _) => desc = body.readString()
      case (7, _) => tags = readTags(body.readSlice())
      case (8, _) => props = readProps(body.readSlice())
    }
    if (name.isEmpty) invalid("entity name required")
    register(ResourceKey("ENTITY", name), Seq("description" -> desc), tags, props)(
      catalog.registerEntity(EntityDef(name)))
  }

  private def createProvider(req: Array[Byte]): Array[Byte] = {
    val body = firstSlice(req, 1).getOrElse(invalid("provider required"))
    var name = ""; var desc = ""; var ptype = ""
    var software = ""; var team = ""; var configB64 = ""
    var tags = Seq.empty[String]; var props = Seq.empty[(String, String)]
    body.fields {
      case (1, _) => name = body.readString()
      case (2, _) => desc = body.readString()
      case (3, _) => ptype = body.readString()
      case (4, _) => software = body.readString()
      case (5, _) => team = body.readString()
      case (6, _) => configB64 = b64(body.readBytes())
      case (12, _) => tags = readTags(body.readSlice())
      case (13, _) => props = readProps(body.readSlice())
    }
    if (name.isEmpty) invalid("provider name required")
    register(ResourceKey("PROVIDER", name),
      Seq("software" -> software, "team" -> team, "config" -> configB64), tags, props)(
      catalog.registerProvider(ProviderDef(name, ptype, desc)))
  }

  private def createUser(req: Array[Byte]): Array[Byte] = {
    val body = firstSlice(req, 1).getOrElse(invalid("user required"))
    var name = ""
    var tags = Seq.empty[String]; var props = Seq.empty[(String, String)]
    body.fields {
      case (1, _) => name = body.readString()
      case (8, _) => tags = readTags(body.readSlice())
      case (9, _) => props = readProps(body.readSlice())
    }
    if (name.isEmpty) invalid("user name required")
    register(ResourceKey("USER", name), Nil, tags, props)(
      catalog.registerUser(UserDef(name)))
  }

  private def createModel(req: Array[Byte]): Array[Byte] = {
    val body = firstSlice(req, 1).getOrElse(invalid("model required"))
    var name = ""; var desc = ""
    val feats = scala.collection.mutable.ArrayBuffer.empty[ResourceId]
    val labelRefs = scala.collection.mutable.ArrayBuffer.empty[ResourceId]
    val tsets = scala.collection.mutable.ArrayBuffer.empty[ResourceId]
    var tags = Seq.empty[String]; var props = Seq.empty[(String, String)]
    body.fields {
      case (1, _) => name = body.readString()
      case (2, _) => desc = body.readString()
      case (3, _) => feats += readNameVariant(body.readSlice())
      case (4, _) => labelRefs += readNameVariant(body.readSlice())
      case (5, _) => tsets += readNameVariant(body.readSlice())
      case (6, _) => tags = readTags(body.readSlice())
      case (7, _) => props = readProps(body.readSlice())
    }
    if (name.isEmpty) invalid("model name required")
    register(ResourceKey("MODEL", name), Seq("description" -> desc,
      "labels" -> labelRefs.map(_.toString).mkString(",")), tags, props)(
      catalog.registerModel(ModelDef(name, feats.toSeq, tsets.toSeq)))
  }

  private def requestScheduleChange(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var key: Option[ResourceKey] = None
    var schedule = ""
    r.fields {
      case (1, _) => key = Some(resolveKey(readResourceId(r.readSlice())))
      case (2, _) => schedule = r.readString()
    }
    val k = key.getOrElse(invalid("resource_id required"))
    setMeta(k, "schedule" -> schedule)
    Empty
  }

  private def setResourceStatus(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var key: Option[ResourceKey] = None
    var st = 0; var msg = ""
    r.fields {
      case (1, _) => key = Some(resolveKey(readResourceId(r.readSlice())))
      case (2, _) => // ResourceStatus{status=1, error_message=2}
        val s = r.readSlice()
        s.fields {
          case (1, _) => st = s.readVarint().toInt
          case (2, _) => msg = s.readString()
        }
    }
    catalog.setStatus(key.getOrElse(invalid("resource_id required")), st, msg)
    Empty
  }

  /** Run: resolve each named source variant through the catalog DAG
    * (validating the registration actually computes) and move it — and
    * any feature/label/training-set variants named — to READY; a failed
    * resolution lands FAILED with the error message (the coordinator's
    * job in the reference, collapsed to synchronous resolution). */
  private def run(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    val targets = scala.collection.mutable.ArrayBuffer.empty[(String, ResourceId)]
    r.fields {
      case (2, _) => // ResourceVariant oneof — we need only (kind, name, variant)
        val rv = r.readSlice()
        rv.fields {
          case (fld, _) if VariantKinds.contains(fld) =>
            targets += VariantKinds(fld) -> readNameVariant(rv.readSlice())
        }
    }
    targets.foreach { case (kind, id) =>
      val k = resolveKey(ResourceKey(kind, id.toString))
      try {
        if (kind == "SOURCE") catalog.resolve(id)
        catalog.setStatus(k, StReady)
      } catch {
        case e: Exception =>
          catalog.setStatus(k, StFailed, Option(e.getMessage).getOrElse(e.toString))
      }
    }
    Empty
  }

  // ---------------------------------------------------- deletion handlers

  private def markForDeletion(req: Array[Byte]): Array[Byte] = {
    val key = readDeletionKey(req)
    try catalog.markForDeletion(key)
    catch {
      case e: IllegalStateException =>
        throw Status.FAILED_PRECONDITION
          .withDescription(Option(e.getMessage).getOrElse("has dependents"))
          .asRuntimeException()
      case e: IllegalArgumentException =>
        notFound(Option(e.getMessage).getOrElse(key.toString))
    }
    Empty
  }

  private def finalizeDeletion(req: Array[Byte]): Array[Byte] = {
    val key = readDeletionKey(req)
    try catalog.finalizeDeletion(key, onFinalize)
    catch {
      case e: IllegalArgumentException =>
        throw Status.FAILED_PRECONDITION
          .withDescription(Option(e.getMessage).getOrElse("not staged"))
          .asRuntimeException()
    }
    Empty
  }

  private def getStagedForDeletionResource(req: Array[Byte]): Array[Byte] = {
    val key = readDeletionKey(req)
    val res = catalog.stagedForDeletion(key)
      .getOrElse(notFound(s"no staged resource ${key.kind} ${key.id}"))
    val w = new W
    w.msg(1)(writeResourceVariant(_, key.kind, res)) // GetStaged...Response{resource_variant=1}
    w.result()
  }

  private def pruneResource(req: Array[Byte]): Array[Byte] = {
    val key = readDeletionKey(req)
    try catalog.pruneResource(key)
    catch {
      case e: IllegalStateException =>
        throw Status.FAILED_PRECONDITION
          .withDescription(Option(e.getMessage).getOrElse("not deletable"))
          .asRuntimeException()
      case e: IllegalArgumentException =>
        notFound(Option(e.getMessage).getOrElse(key.toString))
    }
    Empty // PruneResourceResponse{} (snowflake-only fields unset)
  }

  private def readDeletionKey(req: Array[Byte]): ResourceKey = {
    val r = new R(req)
    var key: Option[ResourceKey] = None
    r.fields {
      case (1, _) => key = Some(resolveKey(readResourceId(r.readSlice())))
    }
    key.getOrElse(invalid("resource_id required"))
  }

  // --------------------------------------------------- GetEquivalent / Run

  /** Equivalence on key attributes (metadata.go findEquivalent): the
    * candidate is decoded as Create would decode it, then matched against
    * the live variants of its name — a source by definition; a feature by
    * source + columns + entity (on-demand: by expression); a label by
    * source + mappings + value column; a training set by label + features
    * + lags. No match, or a candidate Create would refuse → EMPTY
    * ResourceVariant (unset oneof). */
  private def getEquivalent(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var out = Empty
    r.fields {
      case (2, _) =>
        val rv = r.readSlice()
        rv.fields {
          case (fld, _) if decoders.contains(fld) =>
            val body = rv.readSlice()
            val cand =
              try Some(decoders(fld)(body))
              catch {
                case e: StatusRuntimeException
                  if e.getStatus.getCode == Status.Code.INVALID_ARGUMENT => None
              }
            for (d <- cand; m <- live(d.kind).find(m =>
                   m.id.name == d.res.id.name && sameKeyAttributes(d.res, m))) {
              val w = new W
              writeResourceVariant(w, d.kind, m)
              out = w.result()
            }
        }
    }
    out
  }

  private def sameKeyAttributes(a: Variant, b: Variant): Boolean = (a, b) match {
    case (a: SourceVariant, b: SourceVariant) => a.definition == b.definition
    case (a: FeatureVariant, b: FeatureVariant) =>
      a.source == b.source && a.schema == b.schema && a.entity == b.entity
    case (a: OnDemandVariant, b: OnDemandVariant) => a.expr == b.expr
    case (a: LabelVariant, b: LabelVariant) =>
      a.source == b.source && a.mappings == b.mappings && a.valueColumn == b.valueColumn
    case (a: TrainingSetVariant, b: TrainingSetVariant) =>
      a.label == b.label && a.features == b.features && a.lags == b.lags
    case _ => false
  }

  // --------------------------------------------------- response emitters

  private def writeStatus(w: W, field: Int, key: ResourceKey): Unit = {
    val (st, msg) = catalog.status(key)
    w.msg(field) { s =>
      if (st != 0) s.enum(1, st)
      if (msg.nonEmpty) s.str(2, msg)
    }
  }

  private def writeTagsProps(w: W, key: ResourceKey,
                             tagsField: Int, propsField: Int): Unit = {
    val ts = catalog.tags(key)
    if (ts.nonEmpty) w.msg(tagsField)(t => ts.foreach(t.str(1, _)))
    val ps = userProps(key)
    if (ps.nonEmpty) w.msg(propsField) { p =>
      ps.foreach { case (k, v) =>
        p.msg(1) { e => e.str(1, k); e.msg(2)(_.str(1, v)) } // map entry
      }
    }
  }

  private def writeMeta(w: W, key: ResourceKey,
                        ownerF: Int, descF: Int, provF: Int): Unit = {
    if (ownerF > 0) prop(key, "__owner").foreach(w.str(ownerF, _))
    if (descF > 0) prop(key, "__description").foreach(w.str(descF, _))
    if (provF > 0) prop(key, "__provider").foreach(w.str(provF, _))
  }

  private def writeSourceVariant(w: W, sv: SourceVariant): Unit = {
    val key = ResourceKey("SOURCE", sv.id.toString)
    w.str(1, sv.id.name); w.str(2, sv.id.variant)
    sv.definition match {
      case PrimaryData(path, _, tsCol, _) =>
        w.msg(15) { p =>
          p.msg(3)(_.str(1, path))
          tsCol.foreach(p.str(2, _))
        }
      case SqlTransformation(q) =>
        w.msg(14) { t =>
          t.msg(1) { s =>
            s.str(1, q)
            graft.transform.SqlTransform.sourcesOf(q)
              .foreach(nv => s.msg(2)(writeNV(_, nv)))
          }
          writePartition(t, sv.partition)
        }
      case DfTransformation(inputs, _, fnName) =>
        w.msg(14) { t =>
          t.msg(2) { d =>
            fnName.foreach { n =>
              d.bytes(1, n.getBytes(java.nio.charset.StandardCharsets.UTF_8))
              d.str(3, n)
            }
            inputs.foreach(nv => d.msg(2)(writeNV(_, nv)))
          }
          writePartition(t, sv.partition)
        }
    }
    writeMeta(w, key, 4, 5, 6)
    writeStatus(w, 8, key)
    prop(key, "__schedule").foreach(w.str(16, _))
    writeTagsProps(w, key, 17, 18)
  }

  private def writePartition(t: W, p: Option[PartitionHint]): Unit = p match {
    case Some(HashPartition(c, b)) =>
      t.msg(4) { h => h.str(1, c); h.int32(2, b) }
    case Some(DailyPartition(c)) => t.msg(5)(_.str(1, c))
    case None => ()
  }

  private def writeFeatureVariant(w: W, f: FeatureVariant): Unit = {
    val key = ResourceKey("FEATURE", f.id.toString)
    w.str(1, f.id.name); w.str(2, f.id.variant)
    w.msg(3)(writeNV(_, f.source))
    w.str(5, f.entity)
    writeMeta(w, key, 7, 8, 9)
    writeStatus(w, 10, key)
    // reverse lineage: training sets containing this feature
    catalog.allTrainingSets.filter(_.features.contains(f.id))
      .foreach(t => w.msg(11)(writeNV(_, t.id)))
    w.msg(12) { c =>
      c.str(1, f.schema.entity); c.str(2, f.schema.value)
      f.schema.ts.foreach(c.str(3, _))
    }
    writeTagsProps(w, key, 15, 16)
    w.enum(18, 0) // PRECOMPUTED
    prop(key, "__type").foreach(t => w.bytes(25, unb64(t)))
  }

  private def writeOnDemandAsFeature(w: W, o: OnDemandVariant): Unit = {
    val key = ResourceKey("ON_DEMAND", o.id.toString)
    w.str(1, o.id.name); w.str(2, o.id.variant)
    writeMeta(w, key, 7, 8, 9)
    writeStatus(w, 10, key)
    w.msg(17)(_.bytes(1, o.expr.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
    writeTagsProps(w, key, 15, 16)
    w.enum(18, 1) // CLIENT_COMPUTED
    w.msg(22)(_.msg(2)(_.str(1, o.expr))) // FeatureParameters.ondemand.definition
  }

  private def writeLabelVariant(w: W, l: LabelVariant): Unit = {
    val key = ResourceKey("LABEL", l.id.toString)
    w.str(1, l.id.name); w.str(2, l.id.variant)
    prop(key, "__description").foreach(w.str(3, _))
    w.msg(5)(writeNV(_, l.source))
    l.mappings.headOption.foreach(m => w.str(6, m.entityName))
    prop(key, "__owner").foreach(w.str(8, _))
    prop(key, "__provider").foreach(w.str(9, _))
    writeStatus(w, 10, key)
    catalog.allTrainingSets.filter(_.label == l.id)
      .foreach(t => w.msg(11)(writeNV(_, t.id)))
    w.msg(22) { em =>
      l.mappings.foreach(m =>
        em.msg(1) { e => e.str(1, m.entityName); e.str(2, m.column) })
      em.str(2, l.valueColumn)
      l.timestampColumn.foreach(em.str(3, _))
    }
    writeTagsProps(w, key, 13, 14)
    prop(key, "__type").foreach(t => w.bytes(18, unb64(t)))
  }

  private def writeTsetVariant(w: W, t: TrainingSetVariant): Unit = {
    val key = ResourceKey("TRAINING_SET", t.id.toString)
    w.str(1, t.id.name); w.str(2, t.id.variant)
    prop(key, "__description").foreach(w.str(3, _))
    prop(key, "__owner").foreach(w.str(4, _))
    prop(key, "__provider").foreach(w.str(6, _))
    writeStatus(w, 7, key)
    t.features.foreach(f => w.msg(8)(writeNV(_, f)))
    w.msg(9)(writeNV(_, t.label))
    prop(key, "__schedule").foreach(w.str(14, _))
    t.lags.foreach { lg =>
      w.msg(15) { fl =>
        fl.str(1, lg.feature.name); fl.str(2, lg.feature.variant)
        fl.str(3, lg.name)
        fl.msg(4)(_.int64(1, lg.lagSeconds))
      }
    }
    writeTagsProps(w, key, 16, 17)
  }

  private def writeVariant(w: W, v: Variant): Unit = v match {
    case sv: SourceVariant => writeSourceVariant(w, sv)
    case fv: FeatureVariant => writeFeatureVariant(w, fv)
    case od: OnDemandVariant => writeOnDemandAsFeature(w, od)
    case lv: LabelVariant => writeLabelVariant(w, lv)
    case tv: TrainingSetVariant => writeTsetVariant(w, tv)
  }

  /** ResourceVariant{feature_variant=1, label_variant=2,
    * training_set_variant=3, source_variant=4}. */
  private def writeResourceVariant(w: W, kind: String, res: Any): Unit = res match {
    case v: Variant => w.msg(VariantField(kind))(writeVariant(_, v))
    case _ =>
      throw Status.INTERNAL
        .withDescription(s"resource kind $kind has no variant form")
        .asRuntimeException()
  }

  // Parent messages: {name=1, status=2, default_variant=3, variants=4}.
  // Default variant = LATEST registered (metadata.go setDefaultVariant on
  // every create); variants in registration order; staged excluded.
  private def writeParent(w: W, name: String, variants: Seq[ResourceId],
                          kind: String): Unit = {
    w.str(1, name)
    variants.lastOption.foreach { last =>
      writeStatus(w, 2, ResourceKey(kind, last.toString))
      w.str(3, last.variant)
    }
    variants.foreach(v => w.str(4, v.variant))
  }

  /** Get{Features,Labels,TrainingSets,Sources}: the parent of a name's
    * live variants in `family` (a [[Families]] key). */
  private def parentMsg(family: String)(name: String): Array[Byte] = {
    val (noun, kinds) = Families(family)
    val vs = kinds.flatMap(live).map(_.id).filter(_.name == name)
    if (vs.isEmpty) notFound(s"$noun $name")
    // a feature's status is its latest variant's, under the key that id
    // names (precomputed and on-demand keys differ)
    val w = new W
    writeParent(w, name, vs, keyIn(kinds, vs.last.toString).kind)
    w.result()
  }

  private def userMsg(name: String): Array[Byte] = {
    if (!catalog.allUsers.exists(_.name == name)) notFound(s"user $name")
    val key = ResourceKey("USER", name)
    val w = new W
    w.str(1, name)
    writeStatus(w, 2, key)
    def owned(kind: String): Seq[ResourceId] = kind match {
      case "FEATURE" => (live("FEATURE") ++ live("ON_DEMAND")).map(_.id)
        .filter(id => ownerOf("FEATURE", "ON_DEMAND", id) == name)
      case _ => live(kind).map(_.id)
        .filter(id => prop(ResourceKey(kind, id.toString), "__owner").contains(name))
    }
    owned("FEATURE").foreach(id => w.msg(3)(writeNV(_, id)))
    owned("LABEL").foreach(id => w.msg(4)(writeNV(_, id)))
    owned("TRAINING_SET").foreach(id => w.msg(5)(writeNV(_, id)))
    owned("SOURCE").foreach(id => w.msg(6)(writeNV(_, id)))
    writeTagsProps(w, key, 8, 9)
    w.result()
  }

  private def ownerOf(k1: String, k2: String, id: ResourceId): String =
    prop(ResourceKey(k1, id.toString), "__owner")
      .orElse(prop(ResourceKey(k2, id.toString), "__owner")).getOrElse("")

  private def entityMsg(name: String): Array[Byte] = {
    if (!catalog.allEntities.exists(_.name == name)) notFound(s"entity $name")
    val key = ResourceKey("ENTITY", name)
    val w = new W
    w.str(1, name)
    prop(key, "__description").foreach(w.str(2, _))
    writeStatus(w, 3, key)
    live("FEATURE").collect { case f: FeatureVariant if f.entity == name => f.id }
      .foreach(id => w.msg(4)(writeNV(_, id)))
    val entLabels = live("LABEL").collect {
      case l: LabelVariant if l.mappings.exists(_.entityName == name) => l.id }
    entLabels.foreach(id => w.msg(5)(writeNV(_, id)))
    live("TRAINING_SET").collect {
      case t: TrainingSetVariant if entLabels.contains(t.label) => t.id }
      .foreach(id => w.msg(6)(writeNV(_, id)))
    writeTagsProps(w, key, 7, 8)
    w.result()
  }

  private def providerMsg(name: String): Array[Byte] = {
    val p = catalog.allProviders.find(_.name == name)
      .getOrElse(notFound(s"provider $name"))
    val key = ResourceKey("PROVIDER", name)
    val w = new W
    w.str(1, p.name)
    if (p.description.nonEmpty) w.str(2, p.description)
    w.str(3, p.providerType)
    prop(key, "__software").foreach(w.str(4, _))
    prop(key, "__team").foreach(w.str(5, _))
    prop(key, "__config").foreach(c => w.bytes(6, unb64(c)))
    writeStatus(w, 7, key)
    Seq("SOURCE" -> 8, "FEATURE" -> 9, "TRAINING_SET" -> 10, "LABEL" -> 11)
      .foreach { case (kind, field) =>
        live(kind).map(_.id)
          .filter(id => prop(ResourceKey(kind, id.toString), "__provider").contains(name))
          .foreach(id => w.msg(field)(writeNV(_, id)))
      }
    writeTagsProps(w, key, 12, 13)
    w.result()
  }

  private def modelMsg(name: String): Array[Byte] = {
    val m = catalog.allModels.find(_.name == name)
      .getOrElse(notFound(s"model $name"))
    val key = ResourceKey("MODEL", name)
    val w = new W
    w.str(1, m.name)
    prop(key, "__description").foreach(w.str(2, _))
    m.features.foreach(f => w.msg(3)(writeNV(_, f)))
    prop(key, "__labels").foreach(_.split(',').filter(_.nonEmpty)
      .foreach(s => w.msg(4)(writeNV(_, ResourceId.parse(s)))))
    m.trainingSets.foreach(t => w.msg(5)(writeNV(_, t)))
    writeTagsProps(w, key, 6, 7)
    w.result()
  }

  /** Get*Variants: the live variant `id` in `family`, precomputed first. */
  private def variantMsg(family: String)(id: ResourceId): Array[Byte] = {
    val (noun, kinds) = Families(family)
    val v = kinds.iterator.flatMap(k => live(k).find(_.id == id)).nextOption()
      .getOrElse(notFound(s"$noun variant $id"))
    val w = new W; writeVariant(w, v); w.result()
  }

  // ------------------------------------------------------- List* streams

  private def listMsgs(kind: String): Seq[Array[Byte]] = kind match {
    case family if Families.contains(family) =>
      Families(family)._2.flatMap(live).map(_.id.name).distinct.map(parentMsg(family))
    case "USER" => catalog.allUsers.map(u => userMsg(u.name))
    case "PROVIDER" => catalog.allProviders
      .filterNot(p => catalog.isStaged(ResourceKey("PROVIDER", p.name)))
      .map(p => providerMsg(p.name))
    case "ENTITY" => catalog.allEntities.map(e => entityMsg(e.name))
    case _ => catalog.allModels.map(m => modelMsg(m.name))
  }

  /** NameRequest{name=1 Name{name=1}} → the inner name. */
  private def nameOf(req: Array[Byte]): String = {
    val r = new R(req)
    var name = ""
    r.fields {
      case (1, _) =>
        val n = r.readSlice()
        n.fields {
          case (1, _) => name = n.readString()
        }
    }
    name
  }

  /** NameVariantRequest{name_variant=1 NameVariant} → ResourceId. */
  private def nvOf(req: Array[Byte]): ResourceId = {
    val r = new R(req)
    var id = ResourceId("", "")
    r.fields {
      case (1, _) => id = readNameVariant(r.readSlice())
    }
    id
  }

  /** Api-only client streams: each StreamingFeatureVariant /
    * StreamingLabelVariant lands in the online store under the
    * latest-value rule ([[OnlineStore.upsertWithTs]] — out-of-order
    * messages can't regress). Value strings duck-type long → double →
    * string, the HTTP facade's rule; labels go to a `__label__`-prefixed
    * table so a label can share a feature's name. */
  private def writeStream(route: String, valueField: Int, entityField: Int,
                          tablePrefix: String)(req: Array[Byte]): Unit = {
    val sink = store.getOrElse(throw Status.UNIMPLEMENTED
      .withDescription(s"$route: no online store bound")
      .asRuntimeException())
    val r = new R(req)
    var name = ""; var variant = ""
    var entity = ""; var value = ""; var tsMs = 0L
    r.fields {
      case (1, _) => name = r.readString()
      case (2, _) => variant = r.readString()
      case (`entityField`, _) => entity = r.readString()
      case (`valueField`, _) => value = r.readString()
      case (5, _) => // Timestamp{seconds=1, nanos=2}
        val t = r.readSlice()
        var secs = 0L; var nanos = 0L
        t.fields {
          case (1, _) => secs = t.readVarint()
          case (2, _) => nanos = t.readVarint()
        }
        tsMs = secs * 1000L + nanos / 1000000L
    }
    if (name.isEmpty) invalid(s"$route: name required")
    val table = tablePrefix +
      (if (variant.isEmpty) name else s"$name/$variant")
    val entityKey: Any = entity.toLongOption.getOrElse(entity)
    val typedValue: Any = value.toLongOption
      .orElse(value.toDoubleOption).getOrElse(value)
    sink.upsertWithTs(table, entityKey, typedValue, tsMs)
  }

  // -------------- Tasks service (featureform.scheduling.proto.Tasks) ----
  // The coordinator plane (scheduling.proto:18-33, served by
  // metadata.go:2026-2345) over the TaskRunner's durable attempt ledger:
  // a run's CURRENT state is its latest (runKey, attempt) record; status
  // updates and end times append new records (the ledger stays an
  // append-only log, exactly what the fencing guard protects); logs,
  // resume ids, and scheduler ids ride the durable run-log sidecar
  // (resume/scheduler under reserved `__` prefixes).

  private val ResumePrefix = "__resume__:"
  private val SchedulerPrefix = graft.sched.Scheduler.LogPrefix
  private val CronPrefix = graft.sched.Scheduler.CronLogPrefix
  private val OwnerPrefix = graft.sched.Scheduler.OwnerPrefix

  private def runner: graft.sched.TaskRunner =
    tasks.getOrElse(throw Status.UNIMPLEMENTED
      .withDescription("no task ledger bound").asRuntimeException())

  // Run-key minting: an AtomicLong seeded once past the largest
  // previously-minted `run-N` in the ledger — two concurrent CreateTaskRun
  // calls get DISTINCT keys (the old `run-${count}` raced to the same one)
  // and no create pays a full-ledger scan after the seed.
  private val runCounter = new java.util.concurrent.atomic.AtomicLong(-1L)
  private def mintRunKey(): String = {
    if (runCounter.get() < 0L) {
      val next = runner.latestRuns().iterator.map(_.runKey)
        .flatMap(k => if (k.startsWith("run-")) k.drop(4).toLongOption else None)
        .foldLeft(0L)((a, b) => math.max(a, b + 1))
      runCounter.compareAndSet(-1L, next)
    }
    s"run-${runCounter.getAndIncrement()}"
  }

  /** graft status strings → ResourceStatus.Status ints and back. */
  private def statusEnum(s: String): Int = s match {
    case "created" => 1
    case "pending" | "locked" => 2
    case "success" | "skipped" => 3 // READY
    case "failed" => 4
    case "running" => 5
    case "upstream_failed" | "cancelled" => 6
    case "deleting" => 7
    case _ => 0
  }
  private def statusString(e: Int): String = e match {
    case 1 => "created"
    case 2 => "pending"
    case 3 => "success"
    case 4 => "failed"
    case 5 => "running"
    case 6 => "cancelled"
    case 7 => "deleting"
    case _ => "no_status"
  }

  /** Latest record per (task, runKey) — the run's current state, served
    * from the runner's maintained index (no full-ledger regroup per RPC). */
  private def latestRuns(): Seq[graft.sched.TaskRun] = runner.latestRuns()

  private def currentRun(task: String, runKey: String): graft.sched.TaskRun =
    runner.latestRun(task, runKey)
      .getOrElse(notFound(s"run $runKey of task $task"))

  private def writeRunMeta(w: W, r: graft.sched.TaskRun): Unit = {
    val allLogs = runner.runLogs(r.task, r.runKey)
    w.msg(1)(_.str(1, r.runKey)) // runID
    w.msg(2)(_.str(1, r.task))   // taskID
    w.str(3, r.runKey)
    // trigger oneof: a cron-minted run (the daemon's SCHEDULE trigger)
    // carries ScheduleTrigger{name, schedule} with TriggerType SCHEDULE
    // (enum 0 — proto3 default, field 6 omitted); everything else is the
    // reference's OnApply + ON_APPLY (scheduling.proto:126-129)
    allLogs.filter(_.startsWith(CronPrefix)).lastOption match {
      case Some(cron) =>
        w.msg(5) { t =>
          t.str(1, r.runKey); t.str(2, cron.stripPrefix(CronPrefix))
        }
      case None =>
        w.msg(4)(_.str(1, r.runKey)) // trigger: OnApply{name}
        w.enum(6, 1)                 // TriggerType.ON_APPLY
    }
    w.msg(10)(_.int64(1, r.startMs / 1000L))
    if (r.endMs > 0) w.msg(11)(_.int64(1, r.endMs / 1000L))
    allLogs.filterNot(l => l.startsWith(ResumePrefix) ||
      l.startsWith(SchedulerPrefix) || l.startsWith(CronPrefix) ||
      l.startsWith(OwnerPrefix)) // claim-time breadcrumb, not a user log
      .foreach(w.str(12, _))
    w.msg(13) { st =>
      st.enum(1, statusEnum(r.status))
      r.error.foreach(st.str(2, _))
    }
    allLogs.filter(_.startsWith(ResumePrefix)).lastOption
      .foreach(l => w.msg(15)(_.str(1, l.stripPrefix(ResumePrefix))))
    allLogs.filter(_.startsWith(SchedulerPrefix)).lastOption
      .foreach(l => w.str(17, l.stripPrefix(SchedulerPrefix)))
  }

  /** TaskID{id=1} / RunID{id=1} / TaskRunID{runID=1, taskID=2}. */
  private def readIdMsg(r: R): String = {
    var id = ""
    r.fields {
      case (1, _) => id = r.readString()
    }
    id
  }
  private def readRunTaskIds(req: Array[Byte]): (String, String) = {
    val r = new R(req)
    var run = ""; var task = ""
    r.fields {
      case (1, _) => run = readIdMsg(r.readSlice())
      case (2, _) => task = readIdMsg(r.readSlice())
    }
    (run, task)
  }

  private def createTaskRun(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var task = ""; var name = ""
    r.fields {
      case (1, _) => task = readIdMsg(r.readSlice())
      case (2, _) => name = r.readString()
      case (4, _) | (5, _) => r.readSlice() // trigger names are echoed back
    }
    if (task.isEmpty) invalid("taskID required")
    val runKey = if (name.nonEmpty) name else mintRunKey()
    val now = System.currentTimeMillis()
    runner.record(graft.sched.TaskRun(task, runKey, 0, "created", now, 0L, None))
    val w = new W
    w.str(1, runKey) // RunID{id}
    w.result()
  }

  /** SyncUnfinishedRuns — reconcile ledger state with EXECUTION reality
    * (the reference scheduler calls this every TaskStatusSyncInterval,
    * scheduler.go:66-72): orphaned `running` rows re-queue as `pending`.
    * Delegated to [[graft.sched.TaskRunner.syncUnfinishedRuns]], which
    * holds the run's claim lock across the re-check + re-queue (the old
    * probe-release-record shape raced a daemon claiming the run in the
    * window) — and which the scheduler daemon now also calls on its own
    * sync interval, so this RPC is a manual trigger, not the only healer. */
  private def syncUnfinishedRuns(req: Array[Byte]): Array[Byte] = {
    runner.syncUnfinishedRuns()
    Empty
  }

  private def getTaskById(req: Array[Byte]): Array[Byte] = {
    val task = readIdMsg(new R(req))
    val rs = latestRuns().filter(_.task == task)
    if (rs.isEmpty) notFound(s"task $task")
    val w = new W
    w.msg(1)(_.str(1, task))
    w.str(2, task)
    w.enum(3, 0) // RESOURCE_CREATION
    w.msg(7)(_.int64(1, rs.map(_.startMs).min / 1000L))
    w.result()
  }

  private def getRunMetadata(req: Array[Byte]): Array[Byte] = {
    val (run, task) = readRunTaskIds(req)
    val w = new W
    writeRunMeta(w, currentRun(task, run))
    w.result()
  }

  private def getLatestRun(req: Array[Byte]): Array[Byte] = {
    val task = readIdMsg(new R(req))
    val rs = latestRuns().filter(_.task == task)
    if (rs.isEmpty) notFound(s"task $task")
    val w = new W
    writeRunMeta(w, rs.maxBy(r => (r.runKey, r.startMs)))
    w.result()
  }

  private def setRunStatus(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var run = ""; var task = ""; var st = 0; var msg = ""
    r.fields {
      case (1, _) => run = readIdMsg(r.readSlice())
      case (2, _) => task = readIdMsg(r.readSlice())
      case (3, _) =>
        val s = r.readSlice()
        s.fields {
          case (1, _) => st = s.readVarint().toInt
          case (2, _) => msg = s.readString()
        }
    }
    val cur = currentRun(task, run)
    // a wire CANCELLED is a kill request, not just a bookkeeping row: kill
    // any in-flight attempt (Spark job group + body thread) and latch the
    // request so the scheduler/runner never (re)starts this run
    if (statusString(st) == "cancelled") runner.cancel(task, run)
    // a RUNNING report stamps startMs = now: it marks when execution
    // actually began (the row previously inherited the CREATED row's
    // time, so the orphan-sync staleness guard measured run age instead
    // of report freshness and swept live >5min external runs); it also
    // makes periodic RUNNING re-reports a heartbeat that keeps a live
    // external run out of the automatic orphan sweep
    val startMs = if (statusString(st) == "running")
      System.currentTimeMillis() else cur.startMs
    // a RUNNING re-report over a run ALREADY running is a heartbeat, not
    // a state transition: record it at the SAME attempt (last-appended
    // wins on ties, so the index picks up the fresh startMs) instead of
    // attempt+1 — otherwise each heartbeat inflates the attempt counter
    // unboundedly between compactions, and attempt numbers stop meaning
    // real execution attempts. The `attempt >= 1` guard is load-bearing:
    // a RUNNING report over a crashed DAEMON's attempt-0 running marker
    // is an external executor ADOPTING the run, not a heartbeat — it
    // must land at attempt 1 or the restarted daemon's own-id fast
    //-resume (Scheduler.ownOrphan keys on attempt == 0) would claim and
    // execute the run concurrently with the live external executor.
    val heartbeat = statusString(st) == "running" &&
      cur.status == "running" && cur.attempt >= 1
    runner.record(cur.copy(
      attempt = if (heartbeat) cur.attempt else cur.attempt + 1,
      status = statusString(st), startMs = startMs,
      error = Some(msg).filter(_.nonEmpty)))
    Empty
  }

  private def setRunEndTime(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var run = ""; var task = ""; var endMs = 0L
    r.fields {
      case (1, _) => run = readIdMsg(r.readSlice())
      case (2, _) => task = readIdMsg(r.readSlice())
      case (3, _) =>
        val t = r.readSlice()
        t.fields {
          case (1, _) => endMs = t.readVarint() * 1000L
          case (2, _) => endMs += t.readVarint() / 1000000L
        }
    }
    val cur = currentRun(task, run)
    runner.record(cur.copy(attempt = cur.attempt + 1, endMs = endMs))
    Empty
  }

  private def addRunLog(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var run = ""; var task = ""; var log = ""
    r.fields {
      case (1, _) => run = readIdMsg(r.readSlice())
      case (2, _) => task = readIdMsg(r.readSlice())
      case (3, _) => log = r.readString()
    }
    currentRun(task, run) // NOT_FOUND if unknown
    runner.addRunLog(task, run, log)
    Empty
  }

  private def setRunResumeId(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var run = ""; var task = ""; var resume = ""
    r.fields {
      case (1, _) => run = readIdMsg(r.readSlice())
      case (2, _) => task = readIdMsg(r.readSlice())
      case (3, _) => resume = readIdMsg(r.readSlice())
    }
    currentRun(task, run)
    runner.addRunLog(task, run, ResumePrefix + resume)
    Empty
  }

  private def setRunSchedulerId(req: Array[Byte]): Array[Byte] = {
    val r = new R(req)
    var run = ""; var task = ""; var sched = ""
    r.fields {
      case (1, _) => run = readIdMsg(r.readSlice())
      case (2, _) => task = readIdMsg(r.readSlice())
      case (3, _) => sched = r.readString()
    }
    currentRun(task, run)
    runner.addRunLog(task, run, SchedulerPrefix + sched)
    Empty
  }

  /** WatchForCancel returns the run's CURRENT status (the reference
    * long-polls until a cancel lands; synchronous resolution means the
    * answer is immediately current — callers poll). */
  private def watchForCancel(req: Array[Byte]): Array[Byte] = {
    val (run, task) = readRunTaskIds(req)
    // LONG-POLL until the run reaches a terminal state (the executor's
    // "did my run get cancelled" watch; the reference's own server half
    // is an unimplemented infinite loop, taskmetadata.go:671-677 — this
    // one actually resolves), bounded so a watch on a stuck run cannot
    // pin a server thread forever. Each wait round reads the CACHED run
    // index (a file stat, lock-free when nothing foreign changed) and
    // blocks on the runner's change monitor — local appends wake watchers
    // immediately, and a fleet of watchers no longer re-takes the
    // cross-process __ledger__ lock every 50 ms against every append and
    // Tasks RPC sharing it. Concurrent watchers are capped: beyond the
    // cap the call degrades to an immediate status report (callers
    // re-poll), so watchers cannot pin the whole server thread pool.
    var cur = currentRun(task, run)
    if (TerminalStatuses.contains(cur.status)) ()
    else if (!watchSlots.tryAcquire()) ()
    else try {
      val deadline = System.currentTimeMillis() + WatchForCancelTimeoutMs
      while (!TerminalStatuses.contains(cur.status) &&
             System.currentTimeMillis() < deadline) {
        runner.awaitChange(50)
        cur = runner.latestRunCached(task, run).getOrElse(cur)
      }
    } finally watchSlots.release()
    val w = new W
    w.enum(1, statusEnum(cur.status))
    cur.error.foreach(w.str(2, _))
    w.result()
  }

  private val TerminalStatuses =
    Set("success", "skipped", "failed", "timeout", "cancelled", "upstream_failed")
  private val watchSlots = new java.util.concurrent.Semaphore(watchCancelMax)

  private def runMsgs(runs: Seq[graft.sched.TaskRun]): Iterator[Array[Byte]] =
    runs.iterator.map { r => val w = new W; writeRunMeta(w, r); w.result() }

  private val Unfinished = Set("created", "pending", "running", "locked")

  private def tasksService = new Grpc.Service(TasksServiceName, Some(metrics))
    .unary("CreateTaskRun")(createTaskRun)
    .unary("SyncUnfinishedRuns")(syncUnfinishedRuns)
    .unary("GetTaskByID")(getTaskById)
    .stream("GetRuns") { req =>
      val task = readIdMsg(new R(req))
      runMsgs(latestRuns().filter(_.task == task))
    }
    .unary("GetRunMetadata")(getRunMetadata)
    .stream("GetAllRuns")(_ => runMsgs(latestRuns()))
    .stream("GetUnfinishedRuns")(_ =>
      runMsgs(latestRuns().filter(r => Unfinished.contains(r.status))))
    .unary("GetLatestRun")(getLatestRun)
    .unary("SetRunStatus")(setRunStatus)
    .unary("SetRunResumeID")(setRunResumeId)
    .unary("AddRunLog")(addRunLog)
    .unary("SetRunEndTime")(setRunEndTime)
    .unary("WatchForCancel")(watchForCancel)
    .unary("SetRunSchedulerID")(setRunSchedulerId)
    .build()

  private def service(name: String) = {
    val b = new Grpc.Service(name, Some(metrics))
    // WriteFeatures / WriteLabels exist only on the Api service
    // (metadata.proto:116-117); StreamingLabelVariant swaps value(3) /
    // entity(4) relative to StreamingFeatureVariant's entity(3)/value(4).
    // Each responds Empty when the client half-closes (the generated
    // server's shape).
    if (name == ApiServiceName) b
      .clientStream("WriteFeatures", Empty)(
        writeStream("WriteFeatures", valueField = 4, entityField = 3, ""))
      .clientStream("WriteLabels", Empty)(
        writeStream("WriteLabels", valueField = 3, entityField = 4, "__label__"))
    b.unary("CreateUser")(createUser)
      .unary("CreateProvider")(createProvider)
      .unary("CreateSourceVariant")(createVariant("source_variant", decodeSource))
      .unary("CreateEntity")(createEntity)
      .unary("CreateFeatureVariant")(createVariant("feature_variant", decodeFeature))
      .unary("CreateLabelVariant")(createVariant("label_variant", decodeLabel))
      .unary("CreateTrainingSetVariant")(
        createVariant("training_set_variant", decodeTrainingSet))
      .unary("CreateModel")(createModel)
      .unary("RequestScheduleChange")(requestScheduleChange)
      // bidi Get*: one response per incoming request, completed with the
      // request stream (metadata.go genericGet); a lookup failure errors
      // the stream, as in the generated server
      .bidiEach("GetUsers")(r => userMsg(nameOf(r)))
      .bidiEach("GetFeatures")(r => parentMsg("FEATURE")(nameOf(r)))
      .bidiEach("GetFeatureVariants")(r => variantMsg("FEATURE")(nvOf(r)))
      .bidiEach("GetLabels")(r => parentMsg("LABEL")(nameOf(r)))
      .bidiEach("GetLabelVariants")(r => variantMsg("LABEL")(nvOf(r)))
      .bidiEach("GetTrainingSets")(r => parentMsg("TRAINING_SET")(nameOf(r)))
      .bidiEach("GetTrainingSetVariants")(r => variantMsg("TRAINING_SET")(nvOf(r)))
      .bidiEach("GetSources")(r => parentMsg("SOURCE")(nameOf(r)))
      .bidiEach("GetSourceVariants")(r => variantMsg("SOURCE")(nvOf(r)))
      .bidiEach("GetProviders")(r => providerMsg(nameOf(r)))
      .bidiEach("GetEntities")(r => entityMsg(nameOf(r)))
      .bidiEach("GetModels")(r => modelMsg(nameOf(r)))
      .unary("MarkForDeletion")(markForDeletion)
      .unary("FinalizeDeletion")(finalizeDeletion)
      .unary("GetStagedForDeletionResource")(getStagedForDeletionResource)
      .unary("PruneResource")(pruneResource)
      .unary("GetEquivalent")(getEquivalent)
      .unary("Run")(run)
      // metadata-sized by definition (a registry listing, not data)
      .stream("ListFeatures")(_ => listMsgs("FEATURE").iterator)
      .stream("ListLabels")(_ => listMsgs("LABEL").iterator)
      .stream("ListTrainingSets")(_ => listMsgs("TRAINING_SET").iterator)
      .stream("ListSources")(_ => listMsgs("SOURCE").iterator)
      .stream("ListUsers")(_ => listMsgs("USER").iterator)
      .stream("ListProviders")(_ => listMsgs("PROVIDER").iterator)
      .stream("ListEntities")(_ => listMsgs("ENTITY").iterator)
      .stream("ListModels")(_ => listMsgs("MODEL").iterator)
      .unary("SetResourceStatus")(setResourceStatus)
      .build()
  }

  // the reference metadata server hosts the scheduler's Tasks service in
  // the same process (metadata.go:2026-2345) — same here when a ledger is
  // bound
  protected def services =
    Seq(service(ServiceName), service(ApiServiceName)) ++ tasks.map(_ => tasksService)
}

object MetadataServe {
  val ServiceName = "featureform.serving.metadata.proto.Metadata"
  val ApiServiceName = "featureform.serving.metadata.proto.Api"
  val TasksServiceName = "featureform.scheduling.proto.Tasks"

  /** Status enum ints — metadata.proto ResourceStatus.Status. */
  val StCreated = 1
  val StReady = 3
  val StFailed = 4
  val StDeleting = 7

  val Empty: Array[Byte] = Array.emptyByteArray

  /** Default cap on concurrently long-polling WatchForCancel calls, and
    * how long one call polls before answering the current status. */
  val WatchCancelMax = 32
  val WatchForCancelTimeoutMs = 60000L

  /** A decoded *Variant message: the catalog resource, the kind it
    * registers under, and the wire metadata Create stores beside it. */
  private final case class Decoded(kind: String, res: Variant,
                                   meta: Seq[(String, String)], tags: Seq[String],
                                   props: Seq[(String, String)])

  /** Variant families of the wire API: the noun of their NOT_FOUND
    * messages and the catalog kinds behind them — a feature name spans
    * precomputed (FEATURE) and on-demand (ON_DEMAND) variants, and
    * precomputed comes first wherever one id names both. */
  private val Families: Map[String, (String, Seq[String])] = Map(
    "FEATURE" -> ("feature", Seq("FEATURE", "ON_DEMAND")),
    "LABEL" -> ("label", Seq("LABEL")),
    "TRAINING_SET" -> ("training set", Seq("TRAINING_SET")),
    "SOURCE" -> ("source", Seq("SOURCE")))

  /** ResourceVariant oneof field → catalog kind, and back (an on-demand
    * variant travels as a feature_variant). */
  private val VariantKinds: Map[Int, String] =
    Map(1 -> "FEATURE", 2 -> "LABEL", 3 -> "TRAINING_SET", 4 -> "SOURCE")
  private val VariantField: Map[String, Int] =
    VariantKinds.map(_.swap) + ("ON_DEMAND" -> 1)

  def writeNV(w: W, id: ResourceId): Unit = {
    w.str(1, id.name); w.str(2, id.variant)
  }

  /** ResourceID{resource=1 NameVariant, resource_type=2 enum} → catalog
    * ResourceKey. Variant types (metadata.proto:161-174): FEATURE_VARIANT
    * 4, LABEL_VARIANT 5, TRAINING_SET_VARIANT 6, SOURCE_VARIANT 7 key
    * name.variant; parents/singletons key the bare name. A FEATURE key may
    * name an on-demand variant; the server resolves it against its
    * catalog. */
  def readResourceId(r: R): ResourceKey = {
    var nv = ResourceId("", "")
    var rt = 0
    r.fields {
      case (1, _) => nv = readNameVariant(r.readSlice())
      case (2, _) => rt = r.readVarint().toInt
    }
    rt match {
      case 0 | 4 => ResourceKey("FEATURE", nv.toString)
      case 1 | 5 => ResourceKey("LABEL", nv.toString)
      case 2 | 6 => ResourceKey("TRAINING_SET", nv.toString)
      case 3 | 7 => ResourceKey("SOURCE", nv.toString)
      case 8 => ResourceKey("PROVIDER", nv.name)
      case 9 => ResourceKey("ENTITY", nv.name)
      case 10 => ResourceKey("MODEL", nv.name)
      case 11 => ResourceKey("USER", nv.name)
      case other => ResourceKey(s"UNKNOWN_$other", nv.toString)
    }
  }

  /** First LEN-delimited field `field` of a message, as a sub-reader. */
  def firstSlice(req: Array[Byte], field: Int): Option[R] = {
    val r = new R(req)
    var out: Option[R] = None
    r.fields {
      case (`field`, ProtoWire.WtLen) if out.isEmpty => out = Some(r.readSlice())
    }
    out
  }

  /** Tags{tag=1 repeated string}. */
  def readTags(r: R): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    r.fields {
      case (1, _) => out += r.readString()
    }
    out.toSeq
  }

  /** Properties{property=1 map<string, Property{string_value=1}>}. */
  def readProps(r: R): Seq[(String, String)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    r.fields {
      case (1, _) =>
        val e = r.readSlice()
        var k = ""; var v = ""
        e.fields {
          case (1, _) => k = e.readString()
          case (2, _) =>
            val p = e.readSlice()
            p.fields {
              case (1, _) => v = p.readString()
            }
        }
        out += (k -> v)
    }
    out.toSeq
  }

  def b64(b: Array[Byte]): String =
    java.util.Base64.getEncoder.encodeToString(b)
  def unb64(s: String): Array[Byte] = java.util.Base64.getDecoder.decode(s)
}
