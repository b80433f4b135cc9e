package graft.serving

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.catalog._
import graft.serving.ProtoWire.{R, W}
import org.sparkproject.connect.grpc.{CallOptions, ManagedChannel, StatusRuntimeException}
import org.sparkproject.connect.grpc.netty.NettyChannelBuilder
import org.sparkproject.connect.grpc.stub.{ClientCalls, StreamObserver}

/** The Metadata registration plane over a REAL TCP/HTTP2 connection: a
  * hand-encoded wire client (the stand-in for the reference's generated
  * `client.apply()` stubs) registers user → provider → entity → source →
  * transformation → feature → label → training set, reads everything back
  * through the Get* and List* streams, checks GetEquivalent and the staged
  * deletion lifecycle, and proves a registration made over the wire
  * drives the Spark engine (resolve + materialize). */
class MetadataServeSpec extends SparkSpec {
  import Grpc.method
  import MetadataServe.ServiceName
  import org.sparkproject.connect.grpc.MethodDescriptor.MethodType._

  // ------------------------------------------------------- client helpers

  private def withServer(dfFns: Map[String, Seq[org.apache.spark.sql.DataFrame] =>
      org.apache.spark.sql.DataFrame] = Map.empty)
      (body: (Catalog, MetadataServe, ManagedChannel) => Unit): Unit = {
    val cat = new Catalog(spark)
    val srv = new MetadataServe(cat, dfFns = dfFns).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try body(cat, srv, ch)
    finally { ch.shutdownNow(); srv.stop() }
  }

  private def unary(ch: ManagedChannel, rpc: String, req: Array[Byte],
                    service: String = ServiceName): Array[Byte] =
    ClientCalls.blockingUnaryCall(ch, method(service, rpc, UNARY),
      CallOptions.DEFAULT, req)

  private def listCall(ch: ManagedChannel, rpc: String): Seq[Array[Byte]] =
    ClientCalls.blockingServerStreamingCall(ch,
      method(ServiceName, rpc, SERVER_STREAMING), CallOptions.DEFAULT,
      Array.emptyByteArray).asScala.toSeq

  /** Bidi Get*: send the requests, await equal-count responses. */
  private def bidiGet(ch: ManagedChannel, rpc: String,
                      reqs: Seq[Array[Byte]]): Seq[Array[Byte]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
    val done = new java.util.concurrent.CountDownLatch(1)
    @volatile var err: Throwable = null
    val reqObs = ClientCalls.asyncBidiStreamingCall(
      ch.newCall(method(ServiceName, rpc, BIDI_STREAMING), CallOptions.DEFAULT),
      new StreamObserver[Array[Byte]] {
        override def onNext(v: Array[Byte]): Unit = out.synchronized { out += v }
        override def onError(t: Throwable): Unit = { err = t; done.countDown() }
        override def onCompleted(): Unit = done.countDown()
      })
    reqs.foreach(reqObs.onNext)
    reqObs.onCompleted()
    assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), s"$rpc timed out")
    if (err != null) throw err
    out.toSeq
  }

  private def nameReq(name: String): Array[Byte] = {
    val w = new W; w.msg(1)(_.str(1, name)); w.result()
  }
  private def nvReq(name: String, variant: String): Array[Byte] = {
    val w = new W
    w.msg(1) { nv => nv.str(1, name); nv.str(2, variant) }
    w.result()
  }
  private def resourceId(name: String, variant: String, rt: Int): Array[Byte] = {
    val w = new W
    w.msg(1) { rid =>
      rid.msg(1) { nv => nv.str(1, name); if (variant.nonEmpty) nv.str(2, variant) }
      rid.enum(2, rt)
    }
    w.result()
  }

  /** Collect (field → values) of string fields for assertion convenience. */
  private def strFields(msg: Array[Byte]): Map[Int, Seq[String]] = {
    val r = new R(msg)
    val out = scala.collection.mutable.LinkedHashMap.empty[Int, Seq[String]]
      .withDefaultValue(Nil)
    var more = true
    while (more) r.readTag() match {
      case (0, _) => more = false
      case (f, ProtoWire.WtLen) =>
        val b = r.readBytes()
        // strings only — nested messages will look like garbage, callers
        // pick fields they know are strings
        out(f) = out(f) :+ new String(b, java.nio.charset.StandardCharsets.UTF_8)
      case (f, ProtoWire.WtVarint) =>
        out(f) = out(f) :+ r.readVarint().toString
      case (_, wt) => r.skip(wt)
    }
    out.toMap.withDefaultValue(Nil)
  }

  /** GetFeatureVariants → the variant's ResourceStatus (status, message). */
  private def featureStatus(ch: ManagedChannel, name: String,
                            variant: String): (Int, String) = {
    val fv = bidiGet(ch, "GetFeatureVariants", Seq(nvReq(name, variant))).head
    val st = MetadataServe.firstSlice(fv, 10).get
    var code = 0; var msg = ""
    st.fields {
      case (1, _) => code = st.readVarint().toInt
      case (2, _) => msg = st.readString()
    }
    (code, msg)
  }

  private def nvOf(bytes: Array[Byte]): (String, String) = {
    val r = new R(bytes)
    var n = ""; var v = ""
    var more = true
    while (more) r.readTag() match {
      case (0, _) => more = false
      case (1, _) => n = r.readString()
      case (2, _) => v = r.readString()
      case (_, wt) => r.skip(wt)
    }
    (n, v)
  }

  // ------------------------------------------------- request constructors

  private def userReq(name: String): Array[Byte] = {
    val w = new W; w.msg(1)(_.str(1, name)); w.result()
  }

  private def providerReq(name: String, ptype: String, team: String): Array[Byte] = {
    val w = new W
    w.msg(1) { p =>
      p.str(1, name); p.str(2, "local spark"); p.str(3, ptype)
      p.str(4, "spark"); p.str(5, team)
      p.bytes(6, Array[Byte](1, 2, 3))
    }
    w.result()
  }

  private def entityReq(name: String, desc: String): Array[Byte] = {
    val w = new W
    w.msg(1) { e => e.str(1, name); e.str(2, desc) }
    w.result()
  }

  private def primarySourceReq(name: String, variant: String, path: String,
                               owner: String, provider: String): Array[Byte] = {
    val w = new W
    w.msg(1) { sv =>
      sv.str(1, name); sv.str(2, variant)
      sv.msg(15)(_.msg(3)(_.str(1, path)))
      sv.str(4, owner); sv.str(6, provider)
      sv.msg(17)(_.str(1, "tpch")) // Tags
      sv.msg(18)(_.msg(1) { e =>    // Properties{property: {"team": "core"}}
        e.str(1, "team"); e.msg(2)(_.str(1, "core"))
      })
    }
    w.result()
  }

  private def sqlSourceReq(name: String, variant: String, query: String,
                           owner: String): Array[Byte] = {
    val w = new W
    w.msg(1) { sv =>
      sv.str(1, name); sv.str(2, variant)
      sv.msg(14)(_.msg(1)(_.str(1, query)))
      sv.str(4, owner)
    }
    w.result()
  }

  private def featureReq(name: String, variant: String, srcName: String,
                         srcVariant: String, entity: String, colEntity: String,
                         colValue: String, colTs: String,
                         owner: String): Array[Byte] =
    createReq(featureBody(name, variant, srcName, srcVariant, entity,
      colEntity, colValue, colTs, owner))

  private def featureBody(name: String, variant: String, srcName: String,
                          srcVariant: String, entity: String, colEntity: String,
                          colValue: String, colTs: String,
                          owner: String): W => Unit = { fv =>
    fv.str(1, name); fv.str(2, variant)
    fv.msg(3) { nv => nv.str(1, srcName); nv.str(2, srcVariant) }
    fv.str(5, entity); fv.str(7, owner)
    fv.msg(12) { c =>
      c.str(1, colEntity); c.str(2, colValue)
      if (colTs.nonEmpty) c.str(3, colTs)
    }
    // ValueType{scalar=FLOAT64} — round-trips verbatim
    fv.msg(25)(_.enum(1, 3))
  }

  private def onDemandFeatureReq(name: String, variant: String,
                                 definition: String): Array[Byte] = {
    val w = new W
    w.msg(1) { fv =>
      fv.str(1, name); fv.str(2, variant)
      fv.enum(18, 1) // CLIENT_COMPUTED
      fv.msg(22)(_.msg(2)(_.str(1, definition)))
    }
    w.result()
  }

  private def labelReq(name: String, variant: String, srcName: String,
                       srcVariant: String, entity: String, entityCol: String,
                       valueCol: String, tsCol: String): Array[Byte] =
    createReq(labelBody(name, variant, srcName, srcVariant, entity, entityCol,
      valueCol, tsCol))

  private def labelBody(name: String, variant: String, srcName: String,
                        srcVariant: String, entity: String, entityCol: String,
                        valueCol: String, tsCol: String): W => Unit = { lv =>
    lv.str(1, name); lv.str(2, variant)
    lv.msg(5) { nv => nv.str(1, srcName); nv.str(2, srcVariant) }
    lv.msg(22) { em =>
      em.msg(1) { m => m.str(1, entity); m.str(2, entityCol) }
      em.str(2, valueCol)
      if (tsCol.nonEmpty) em.str(3, tsCol)
    }
  }

  private def tsetReq(name: String, variant: String,
                      label: (String, String), features: Seq[(String, String)],
                      lag: Option[(String, String, String, Long)] = None)
      : Array[Byte] =
    createReq(tsetBody(name, variant, label, features, lag))

  private def tsetBody(name: String, variant: String,
                       label: (String, String), features: Seq[(String, String)],
                       lag: Option[(String, String, String, Long)]): W => Unit = { tv =>
    tv.str(1, name); tv.str(2, variant)
    features.foreach { case (n, v) =>
      tv.msg(8) { nv => nv.str(1, n); nv.str(2, v) }
    }
    tv.msg(9) { nv => nv.str(1, label._1); nv.str(2, label._2) }
    lag.foreach { case (f, v, lagName, secs) =>
      tv.msg(15) { fl =>
        fl.str(1, f); fl.str(2, v); fl.str(3, lagName)
        fl.msg(4)(_.int64(1, secs))
      }
    }
  }

  /** Create*VariantRequest{variant=1} around a variant message body. */
  private def createReq(body: W => Unit): Array[Byte] = {
    val w = new W; w.msg(1)(body); w.result()
  }

  /** GetEquivalent for ResourceVariant oneof `field` (feature=1, label=2,
    * training_set=3, source=4) → the matched (name, variant), or None for
    * the empty ResourceVariant. */
  private def equivalent(ch: ManagedChannel, field: Int)
                        (body: W => Unit): Option[(String, String)] = {
    val w = new W
    w.msg(2)(_.msg(field)(body))
    MetadataServe.firstSlice(unary(ch, "GetEquivalent", w.result()), field)
      .map { m =>
        var n = ""; var v = ""
        m.fields {
          case (1, _) => n = m.readString()
          case (2, _) => v = m.readString()
        }
        (n, v)
      }
  }

  /** Register `body("v1")` through `rpc`, then probe GetEquivalent with the
    * same body under the fresh variant "probe". */
  private def registerThenProbe(ch: ManagedChannel, rpc: String, field: Int)
                               (body: String => W => Unit): Option[(String, String)] = {
    unary(ch, rpc, createReq(body("v1")))
    equivalent(ch, field)(body("probe"))
  }

  // ---------------------------------------------------------------- tests

  test("full registration chain over the wire drives the engine: user → " +
       "provider → entity → source → SQL transformation → feature → label " +
       "→ training set, resolved through the catalog DAG") {
    withServer() { (cat, _, ch) =>
      unary(ch, "CreateUser", userReq("alice"))
      unary(ch, "CreateProvider", providerReq("spark_offline", "SPARK_OFFLINE", "core"))
      unary(ch, "CreateEntity", entityReq("customer", "a buyer"))
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v1", s"$sf001/orders.parquet",
          "alice", "spark_offline"))
      unary(ch, "CreateSourceVariant",
        sqlSourceReq("cust_rev", "v1",
          "SELECT o_custkey, SUM(o_totalprice) AS revenue, MAX(o_orderdate) AS last_order " +
            "FROM {{orders.v1}} GROUP BY o_custkey", "alice"))
      unary(ch, "CreateFeatureVariant",
        featureReq("f_revenue", "v1", "cust_rev", "v1", "customer",
          "o_custkey", "revenue", "last_order", "alice"))
      unary(ch, "CreateLabelVariant",
        labelReq("big_spender", "v1", "cust_rev", "v1", "customer",
          "o_custkey", "revenue", "last_order"))
      unary(ch, "CreateTrainingSetVariant",
        tsetReq("spender_ts", "v1", ("big_spender", "v1"),
          Seq(("f_revenue", "v1")), Some(("f_revenue", "v1", "rev_1d", 86400L))))

      // the registration made over the wire is a LIVE catalog resource
      val sv = cat.source(ResourceId("cust_rev", "v1"))
      assert(sv.definition.isInstanceOf[SqlTransformation])
      val df = cat.resolve(ResourceId("cust_rev", "v1"))
      assert(df.count() > 0)
      // and Run moves it to READY through real resolution
      val runW = new W
      runW.msg(2)(_.msg(4) { v => v.str(1, "cust_rev"); v.str(2, "v1") })
      unary(ch, "Run", runW.result())
      assert(cat.status(ResourceKey("SOURCE", "cust_rev.v1"))._1 == 3)

      // training set wiring round-tripped
      val ts = cat.trainingSet(ResourceId("spender_ts", "v1"))
      assert(ts.label == ResourceId("big_spender", "v1"))
      assert(ts.features == Seq(ResourceId("f_revenue", "v1")))
      assert(ts.lags == Seq(FeatureLag(ResourceId("f_revenue", "v1"), "rev_1d", 86400L)))
    }
  }

  test("Get*/List* streams return what was registered: parents carry " +
       "default_variant + variants, variant messages round-trip fields") {
    withServer() { (_, _, ch) =>
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v1", s"$sf001/orders.parquet", "alice", "p"))
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v2", s"$sf001/orders.parquet", "alice", "p"))
      unary(ch, "CreateFeatureVariant",
        featureReq("f_total", "a", "orders", "v1", "customer",
          "o_custkey", "o_totalprice", "o_orderdate", "alice"))

      // GetSources (bidi): parent with both variants, default = latest
      val parents = bidiGet(ch, "GetSources", Seq(nameReq("orders")))
      assert(parents.size == 1)
      val pf = strFields(parents.head)
      assert(pf(1) == Seq("orders"))
      assert(pf(3) == Seq("v2"))          // default_variant = LATEST created
      assert(pf(4) == Seq("v1", "v2"))    // registration order

      // GetSourceVariants: full message round-trip
      val svs = bidiGet(ch, "GetSourceVariants", Seq(nvReq("orders", "v1")))
      val sf = strFields(svs.head)
      assert(sf(1) == Seq("orders") && sf(2) == Seq("v1"))
      assert(sf(4) == Seq("alice")) // owner came back
      // primaryData.filestore.path survived (field 15 is
      // PrimaryData{filestore=3{path=1}})
      val pd2 = MetadataServe.firstSlice(svs.head, 15).get
      var path = ""
      var more = true
      while (more) pd2.readTag() match {
        case (0, _) => more = false
        case (3, _) =>
          val f = pd2.readSlice()
          var fm = true
          while (fm) f.readTag() match {
            case (0, _) => fm = false
            case (1, _) => path = f.readString()
            case (_, wt) => f.skip(wt)
          }
        case (_, wt) => pd2.skip(wt)
      }
      assert(path == s"$sf001/orders.parquet")

      // GetFeatureVariants round-trips columns + entity + ValueType
      val fvs = bidiGet(ch, "GetFeatureVariants", Seq(nvReq("f_total", "a")))
      val ff = strFields(fvs.head)
      assert(ff(1) == Seq("f_total") && ff(2) == Seq("a") && ff(5) == Seq("customer"))
      val cols = MetadataServe.firstSlice(fvs.head, 12).get
      var ce = ""; var cv = ""; var ct = ""
      var cm = true
      while (cm) cols.readTag() match {
        case (0, _) => cm = false
        case (1, _) => ce = cols.readString()
        case (2, _) => cv = cols.readString()
        case (3, _) => ct = cols.readString()
        case (_, wt) => cols.skip(wt)
      }
      assert((ce, cv, ct) == (("o_custkey", "o_totalprice", "o_orderdate")))
      val vt = MetadataServe.firstSlice(fvs.head, 25).get
      assert(vt.readTag() == ((1, ProtoWire.WtVarint)) && vt.readVarint() == 3L)

      // List streams see one parent per name
      assert(listCall(ch, "ListSources").size == 1)
      assert(listCall(ch, "ListFeatures").size == 1)

      // unknown names are NOT_FOUND stream errors
      val e = intercept[StatusRuntimeException] {
        bidiGet(ch, "GetSources", Seq(nameReq("nope")))
      }
      assert(e.getStatus.getCode.toString == "NOT_FOUND")
    }
  }

  test("create is idempotent for equivalent definitions, ALREADY_EXISTS " +
       "for conflicting ones; GetEquivalent finds matches on key " +
       "attributes and returns an empty ResourceVariant otherwise") {
    withServer() { (_, _, ch) =>
      val req = primarySourceReq("orders", "v1", s"$sf001/orders.parquet", "a", "p")
      unary(ch, "CreateSourceVariant", req)
      unary(ch, "CreateSourceVariant", req) // equivalent → no-op
      val conflict = intercept[StatusRuntimeException] {
        unary(ch, "CreateSourceVariant",
          primarySourceReq("orders", "v1", "/elsewhere.parquet", "a", "p"))
      }
      assert(conflict.getStatus.getCode.toString == "ALREADY_EXISTS")

      // GetEquivalent: same definition under a DIFFERENT variant matches v1
      val eqW = new W
      eqW.msg(2)(_.msg(4) { sv =>
        sv.str(1, "orders"); sv.str(2, "candidate")
        sv.msg(15)(_.msg(3)(_.str(1, s"$sf001/orders.parquet")))
      })
      val hit = unary(ch, "GetEquivalent", eqW.result())
      // decode the matched SourceVariant's (name, variant)
      val matched = MetadataServe.firstSlice(hit, 4).get
      var mn = ""; var mv = ""
      var mm = true
      while (mm) matched.readTag() match {
        case (0, _) => mm = false
        case (1, _) => mn = matched.readString()
        case (2, _) => mv = matched.readString()
        case (_, wt) => matched.skip(wt)
      }
      assert((mn, mv) == (("orders", "v1")))

      // no equivalent → EMPTY ResourceVariant (zero bytes, oneof unset)
      val missW = new W
      missW.msg(2)(_.msg(4) { sv =>
        sv.str(1, "orders"); sv.str(2, "x")
        sv.msg(15)(_.msg(3)(_.str(1, "/nowhere.parquet")))
      })
      val miss = unary(ch, "GetEquivalent", missW.result())
      assert(MetadataServe.firstSlice(miss, 1).isEmpty &&
        MetadataServe.firstSlice(miss, 4).isEmpty)
    }
  }

  test("staged deletion over the wire: mark blocked by a live dependent " +
       "(FAILED_PRECONDITION), staged resource readable, finalize erases, " +
       "prune cascades") {
    withServer() { (cat, _, ch) =>
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v1", s"$sf001/orders.parquet", "a", "p"))
      unary(ch, "CreateFeatureVariant",
        featureReq("f_total", "v1", "orders", "v1", "customer",
          "o_custkey", "o_totalprice", "", "a"))

      // SOURCE_VARIANT = 7 — blocked by the feature depending on it
      val blocked = intercept[StatusRuntimeException] {
        unary(ch, "MarkForDeletion", resourceId("orders", "v1", 7))
      }
      assert(blocked.getStatus.getCode.toString == "FAILED_PRECONDITION")
      assert(blocked.getStatus.getDescription.contains("f_total"))

      // FEATURE_VARIANT = 4 — no dependents, marks cleanly
      unary(ch, "MarkForDeletion", resourceId("f_total", "v1", 4))
      // staged resource still readable through the staged endpoint —
      // decode ResourceVariant{feature_variant=1{name=1}}
      val staged = unary(ch, "GetStagedForDeletionResource",
        resourceId("f_total", "v1", 4))
      val rv2 = MetadataServe.firstSlice(staged, 1).get
      var stagedName = ""
      var sm = true
      while (sm) rv2.readTag() match {
        case (0, _) => sm = false
        case (1, _) =>
          val f = rv2.readSlice()
          var fm = true
          while (fm) f.readTag() match {
            case (0, _) => fm = false
            case (1, _) => stagedName = f.readString()
            case (_, wt) => f.skip(wt)
          }
        case (_, wt) => rv2.skip(wt)
      }
      assert(stagedName == "f_total")
      // ...but is GONE from the live read streams
      val gone = intercept[StatusRuntimeException] {
        bidiGet(ch, "GetFeatureVariants", Seq(nvReq("f_total", "v1")))
      }
      assert(gone.getStatus.getCode.toString == "NOT_FOUND")

      // finalize erases; the source is now unblocked and prunable
      unary(ch, "FinalizeDeletion", resourceId("f_total", "v1", 4))
      assert(cat.allFeatures.isEmpty)
      unary(ch, "MarkForDeletion", resourceId("orders", "v1", 7))
      unary(ch, "FinalizeDeletion", resourceId("orders", "v1", 7))
      assert(cat.allSources.isEmpty)

      // prune cascades: rebuild the pair, prune the source, both staged
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v1", s"$sf001/orders.parquet", "a", "p"))
      unary(ch, "CreateFeatureVariant",
        featureReq("f_total", "v1", "orders", "v1", "customer",
          "o_custkey", "o_totalprice", "", "a"))
      unary(ch, "PruneResource", resourceId("orders", "v1", 7))
      assert(cat.isStaged(ResourceKey("SOURCE", "orders.v1")))
      assert(cat.isStaged(ResourceKey("FEATURE", "f_total.v1")))
    }
  }

  test("provider deletion gate holds on the WIRE path: a source registered " +
       "with provider field 6 blocks MarkForDeletion of that provider " +
       "(FAILED_PRECONDITION), and a re-mark of a staged resource is a " +
       "precondition failure, not NOT_FOUND") {
    withServer() { (cat, _, ch) =>
      unary(ch, "CreateProvider", providerReq("prov_a", "SPARK_OFFLINE", "core"))
      // the serve layer stores the provider binding as the __provider
      // property; the deletion gate must see it (round-11 advice: it read
      // only the unprefixed key and deleted live providers)
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v1", s"$sf001/orders.parquet", "a", "prov_a"))
      val blocked = intercept[StatusRuntimeException] {
        unary(ch, "MarkForDeletion", resourceId("prov_a", "", 8))
      }
      assert(blocked.getStatus.getCode.toString == "FAILED_PRECONDITION")
      assert(blocked.getStatus.getDescription.contains("orders"))
      // prune on the provider must also refuse to stage the provider's own
      // deletion while skipping it is impossible... it stages dependents
      // only; the provider itself survives (reference prune semantics)
      unary(ch, "PruneResource", resourceId("prov_a", "", 8))
      assert(cat.isStaged(ResourceKey("SOURCE", "orders.v1")))
      assert(!cat.isStaged(ResourceKey("PROVIDER", "prov_a")))
      // marking the STAGED source again: FAILED_PRECONDITION (already
      // staged), not NOT_FOUND — the reference's error split
      val restage = intercept[StatusRuntimeException] {
        unary(ch, "MarkForDeletion", resourceId("orders", "v1", 7))
      }
      assert(restage.getStatus.getCode.toString == "FAILED_PRECONDITION")
      // with the dependent staged, the provider marks cleanly
      unary(ch, "MarkForDeletion", resourceId("prov_a", "", 8))
      assert(cat.isStaged(ResourceKey("PROVIDER", "prov_a")))
    }
  }

  test("on-demand (CLIENT_COMPUTED) features, SetResourceStatus, schedule " +
       "changes, and the Api service alias") {
    withServer() { (cat, _, ch) =>
      unary(ch, "CreateFeatureVariant",
        onDemandFeatureReq("od_double", "v1", "value * 2"))
      assert(cat.onDemand(ResourceId("od_double", "v1")).expr == "value * 2")
      // round-trips as a CLIENT_COMPUTED FeatureVariant
      val fvs = bidiGet(ch, "GetFeatureVariants", Seq(nvReq("od_double", "v1")))
      val ff = strFields(fvs.head)
      assert(ff(18) == Seq("1")) // mode = CLIENT_COMPUTED

      // SetResourceStatus: FEATURE_VARIANT=4 → FAILED(4) with message
      val stW = new W
      stW.msg(1) { rid =>
        rid.msg(1) { nv => nv.str(1, "od_double"); nv.str(2, "v1") }
        rid.enum(2, 4)
      }
      stW.msg(2) { s => s.enum(1, 4); s.str(2, "boom") }
      unary(ch, "SetResourceStatus", stW.result())
      assert(cat.status(ResourceKey("ON_DEMAND", "od_double.v1")) == ((4, "boom")))
      // and the wire reads it back: FeatureVariant.status=10 {status=1, error_message=2}
      assert(featureStatus(ch, "od_double", "v1") == ((4, "boom")))

      // RequestScheduleChange lands in the resource's schedule property
      val scW = new W
      scW.msg(1) { rid =>
        rid.msg(1) { nv => nv.str(1, "od_double"); nv.str(2, "v1") }
        rid.enum(2, 4)
      }
      scW.str(2, "*/10 * * * *")
      unary(ch, "RequestScheduleChange", scW.result())
      assert(cat.properties(ResourceKey("ON_DEMAND", "od_double.v1"))
        .get("__schedule").contains("*/10 * * * *"))

      // the Api service serves the same handlers
      unary(ch, "CreateUser", userReq("api_user"),
        service = MetadataServe.ApiServiceName)
      assert(cat.allUsers.exists(_.name == "api_user"))
    }
  }

  test("Api WriteFeatures/WriteLabels client streams land in the online " +
       "store under the latest-value rule (out-of-order can't regress); " +
       "no store bound means UNIMPLEMENTED") {
    def writeCall(ch: ManagedChannel, rpc: String,
                  msgs: Seq[Array[Byte]]): Option[Throwable] = {
      val done = new java.util.concurrent.CountDownLatch(1)
      @volatile var err: Throwable = null
      val reqObs = ClientCalls.asyncClientStreamingCall(
        ch.newCall(Grpc.method(MetadataServe.ApiServiceName, rpc,
          CLIENT_STREAMING), CallOptions.DEFAULT),
        new StreamObserver[Array[Byte]] {
          override def onNext(v: Array[Byte]): Unit = ()
          override def onError(t: Throwable): Unit = { err = t; done.countDown() }
          override def onCompleted(): Unit = done.countDown()
        })
      msgs.foreach(reqObs.onNext)
      reqObs.onCompleted()
      assert(done.await(30, java.util.concurrent.TimeUnit.SECONDS), s"$rpc timed out")
      Option(err)
    }
    def sfv(name: String, variant: String, entity: String, value: String,
            tsSec: Long, entityField: Int = 3, valueField: Int = 4): Array[Byte] = {
      val w = new W
      w.str(1, name); w.str(2, variant)
      w.str(entityField, entity); w.str(valueField, value)
      w.msg(5)(_.int64(1, tsSec))
      w.result()
    }

    val cat = new Catalog(spark)
    val store = new OnlineStore(new InProcessKv)
    val srv = new MetadataServe(cat, store = Some(store)).start()
    val ch = NettyChannelBuilder.forAddress("127.0.0.1", srv.boundPort)
      .usePlaintext().build()
    try {
      // newest-wins: t=200 lands, then t=100 arrives late and must NOT win
      assert(writeCall(ch, "WriteFeatures", Seq(
        sfv("f_click", "v1", "7", "1.5", 100),
        sfv("f_click", "v1", "7", "9.9", 200),
        sfv("f_click", "v1", "7", "2.2", 150), // late, loses
        sfv("f_click", "v1", "8", "42", 100))).isEmpty)
      val e7 = store.get("f_click/v1", 7L).get.asInstanceOf[org.apache.spark.sql.Row]
      assert(e7.get(0) == 9.9 && e7.getLong(1) == 200000L)
      assert(store.get("f_click/v1", 8L).get
        .asInstanceOf[org.apache.spark.sql.Row].get(0) == 42L)

      // labels swap value(3)/entity(4) and land prefixed
      assert(writeCall(ch, "WriteLabels", Seq(
        sfv("churn", "v1", "7", "1", 100, entityField = 4, valueField = 3))).isEmpty)
      assert(store.get("__label__churn/v1", 7L).get
        .asInstanceOf[org.apache.spark.sql.Row].get(0) == 1L)
    } finally { ch.shutdownNow(); srv.stop() }

    // a server without a store answers UNIMPLEMENTED
    withServer() { (_, _, ch2) =>
      val err = writeCall(ch2, "WriteFeatures",
        Seq(sfv("f", "v", "1", "1", 1)))
      assert(err.exists(_.asInstanceOf[StatusRuntimeException]
        .getStatus.getCode.toString == "UNIMPLEMENTED"))
    }
  }

  test("DF transformations bind by name from the server registry; an " +
       "unknown name is INVALID_ARGUMENT") {
    import org.apache.spark.sql.functions.col
    val double: Seq[org.apache.spark.sql.DataFrame] => org.apache.spark.sql.DataFrame =
      { case Seq(df) => df.withColumn("o_totalprice", col("o_totalprice") * 2) }
    withServer(dfFns = Map("double_price" -> double)) { (cat, _, ch) =>
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v1", s"$sf001/orders.parquet", "a", "p"))
      val w = new W
      w.msg(1) { sv =>
        sv.str(1, "doubled"); sv.str(2, "v1")
        sv.msg(14)(_.msg(2) { d =>
          d.str(3, "double_price") // source_text names the fn
          d.msg(2) { nv => nv.str(1, "orders"); nv.str(2, "v1") }
        })
      }
      unary(ch, "CreateSourceVariant", w.result())
      val df = cat.resolve(ResourceId("doubled", "v1"))
      assert(df.columns.contains("o_totalprice") && df.count() > 0)

      val bad = new W
      bad.msg(1) { sv =>
        sv.str(1, "broken"); sv.str(2, "v1")
        sv.msg(14)(_.msg(2)(_.str(3, "no_such_fn")))
      }
      val e = intercept[StatusRuntimeException] {
        unary(ch, "CreateSourceVariant", bad.result())
      }
      assert(e.getStatus.getCode.toString == "INVALID_ARGUMENT")
    }
  }

  // ------------------------------ GetEquivalent shares Create's decoder

  private val ordersV1: W => Unit = { nv => nv.str(1, "orders"); nv.str(2, "v1") }

  test("GetEquivalent finds a DF transformation named only by " +
       "DFTransformation field 8") {
    withServer(dfFns = Map("keep" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head))) { (_, _, ch) =>
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v1", s"$sf001/orders.parquet", "a", "p"))
      val hit = registerThenProbe(ch, "CreateSourceVariant", 4) { v => sv =>
        sv.str(1, "kept"); sv.str(2, v)
        sv.msg(14)(_.msg(2) { d => d.msg(2)(ordersV1); d.str(8, "keep") })
      }
      assert(hit == Some(("kept", "v1")))
    }
  }

  test("GetEquivalent finds a label registered through the deprecated " +
       "Columns (field 12) plus entity (field 6)") {
    withServer() { (_, _, ch) =>
      val hit = registerThenProbe(ch, "CreateLabelVariant", 2) { v => lv =>
        lv.str(1, "churned"); lv.str(2, v)
        lv.msg(5)(ordersV1)
        lv.str(6, "customer")
        lv.msg(12) { c =>
          c.str(1, "o_custkey"); c.str(2, "o_totalprice"); c.str(3, "o_orderdate")
        }
      }
      assert(hit == Some(("churned", "v1")))
    }
  }

  test("GetEquivalent finds a CLIENT_COMPUTED feature sent with mode = 1 " +
       "and only PythonFunction bytes (field 17)") {
    withServer() { (cat, _, ch) =>
      val hit = registerThenProbe(ch, "CreateFeatureVariant", 1) { v => fv =>
        fv.str(1, "od_py"); fv.str(2, v)
        fv.msg(17)(_.bytes(1, "value * 3".getBytes("UTF-8")))
        fv.enum(18, 1)
      }
      assert(cat.onDemand(ResourceId("od_py", "v1")).expr == "value * 3")
      assert(hit == Some(("od_py", "v1")))
    }
  }

  test("GetEquivalent finds a precomputed feature, an entity_mappings " +
       "label, a training set with a lag and a source_text DF " +
       "transformation under another variant; a probe Create would " +
       "refuse gets the empty ResourceVariant") {
    withServer(dfFns = Map("keep" -> ((dfs: Seq[org.apache.spark.sql.DataFrame]) =>
        dfs.head))) { (_, _, ch) =>
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v1", s"$sf001/orders.parquet", "a", "p"))
      assert(registerThenProbe(ch, "CreateFeatureVariant", 1)(v =>
        featureBody("f_total", v, "orders", "v1", "customer", "o_custkey",
          "o_totalprice", "o_orderdate", "a")) == Some(("f_total", "v1")))
      assert(registerThenProbe(ch, "CreateLabelVariant", 2)(v =>
        labelBody("big", v, "orders", "v1", "customer", "o_custkey",
          "o_totalprice", "o_orderdate")) == Some(("big", "v1")))
      assert(registerThenProbe(ch, "CreateTrainingSetVariant", 3)(v =>
        tsetBody("ts", v, ("big", "v1"), Seq(("f_total", "v1")),
          Some(("f_total", "v1", "total_1d", 86400L)))) == Some(("ts", "v1")))
      assert(registerThenProbe(ch, "CreateSourceVariant", 4) { v => sv =>
        sv.str(1, "kept"); sv.str(2, v)
        sv.msg(14)(_.msg(2) { d => d.str(3, "keep"); d.msg(2)(ordersV1) })
      } == Some(("kept", "v1")))
      // a different key attribute misses: another lag length
      assert(equivalent(ch, 3)(tsetBody("ts", "probe", ("big", "v1"),
        Seq(("f_total", "v1")), Some(("f_total", "v1", "total_1d", 3600L)))).isEmpty)
      // probes Create answers INVALID_ARGUMENT for: an unknown DF fn, a
      // primaryData without a path, a precomputed feature without columns
      assert(equivalent(ch, 4) { sv =>
        sv.str(1, "kept"); sv.str(2, "probe")
        sv.msg(14)(_.msg(2) { d => d.str(3, "no_such_fn"); d.msg(2)(ordersV1) })
      }.isEmpty)
      assert(equivalent(ch, 4) { sv =>
        sv.str(1, "orders"); sv.str(2, "probe"); sv.msg(15)(_ => ())
      }.isEmpty)
      assert(equivalent(ch, 1) { fv =>
        fv.str(1, "f_total"); fv.str(2, "probe"); fv.msg(3)(ordersV1)
      }.isEmpty)
    }
  }

  // ------------------------------- one key for an on-demand feature variant

  test("FEATURE_VARIANT ids resolve to an on-demand variant when only one " +
       "has the id: MarkForDeletion stages it, the staged read and " +
       "FinalizeDeletion find it; a precomputed variant of the same id wins") {
    withServer() { (cat, _, ch) =>
      unary(ch, "CreateFeatureVariant", onDemandFeatureReq("od", "v1", "value * 2"))
      unary(ch, "MarkForDeletion", resourceId("od", "v1", 4))
      assert(cat.isStaged(ResourceKey("ON_DEMAND", "od.v1")))
      // Response{resource_variant=1{feature_variant=1{name=1}}}
      val staged = MetadataServe.firstSlice(unary(ch,
        "GetStagedForDeletionResource", resourceId("od", "v1", 4)), 1).get
      var stagedName = ""
      staged.fields {
        case (1, _) =>
          val fv = staged.readSlice()
          fv.fields { case (1, _) => stagedName = fv.readString() }
      }
      assert(stagedName == "od")
      unary(ch, "FinalizeDeletion", resourceId("od", "v1", 4))
      assert(cat.allOnDemands.isEmpty)

      // the same id as a precomputed AND an on-demand variant: the
      // precomputed one answers GetFeatureVariants, so it takes the status
      unary(ch, "CreateFeatureVariant", featureReq("twin", "v1", "orders", "v1",
        "customer", "o_custkey", "o_totalprice", "", "a"))
      unary(ch, "CreateFeatureVariant", onDemandFeatureReq("twin", "v1", "value * 2"))
      val stW = new W
      stW.msg(1) { rid =>
        rid.msg(1) { nv => nv.str(1, "twin"); nv.str(2, "v1") }
        rid.enum(2, 4)
      }
      stW.msg(2) { s => s.enum(1, 4); s.str(2, "boom") }
      unary(ch, "SetResourceStatus", stW.result())
      assert(cat.status(ResourceKey("FEATURE", "twin.v1")) == ((4, "boom")))
      assert(cat.status(ResourceKey("ON_DEMAND", "twin.v1"))._1 == 1)
      assert(featureStatus(ch, "twin", "v1") == ((4, "boom")))
    }
  }

  test("ListFeatures skips a name whose only on-demand variant is staged") {
    withServer() { (cat, _, ch) =>
      unary(ch, "CreateFeatureVariant", featureReq("f_total", "v1", "orders",
        "v1", "customer", "o_custkey", "o_totalprice", "", "a"))
      unary(ch, "CreateFeatureVariant", onDemandFeatureReq("od_only", "v1", "value * 2"))
      cat.markForDeletion(ResourceKey("ON_DEMAND", "od_only.v1"))
      assert(listCall(ch, "ListFeatures").map(strFields(_)(1)) == Seq(Seq("f_total")))
    }
  }

  // ------------------------------------------------------ dotted variants

  test("a variant containing '.' is INVALID_ARGUMENT on every Create*Variant; " +
       "a dotted name still runs and deletes") {
    withServer() { (cat, _, ch) =>
      val dotted = Seq(
        "CreateSourceVariant" -> primarySourceReq("orders", "2024.05",
          s"$sf001/orders.parquet", "a", "p"),
        "CreateFeatureVariant" -> featureReq("f", "2024.05", "orders", "v1",
          "customer", "o_custkey", "o_totalprice", "", "a"),
        "CreateFeatureVariant" -> onDemandFeatureReq("od", "2024.05", "value * 2"),
        "CreateLabelVariant" -> labelReq("l", "2024.05", "orders", "v1",
          "customer", "o_custkey", "o_totalprice", ""),
        "CreateTrainingSetVariant" -> tsetReq("t", "2024.05", ("l", "v1"),
          Seq(("f", "v1"))))
      dotted.foreach { case (rpc, req) =>
        val e = intercept[StatusRuntimeException](unary(ch, rpc, req))
        assert(e.getStatus.getCode.toString == "INVALID_ARGUMENT", rpc)
      }
      assert(cat.allSources.isEmpty && cat.allFeatures.isEmpty &&
        cat.allOnDemands.isEmpty && cat.allLabels.isEmpty &&
        cat.allTrainingSets.isEmpty)

      // the key string splits at its last '.', so a dotted NAME is fine
      unary(ch, "CreateSourceVariant",
        primarySourceReq("tpch.orders", "v1", s"$sf001/orders.parquet", "a", "p"))
      val runW = new W
      runW.msg(2)(_.msg(4) { v => v.str(1, "tpch.orders"); v.str(2, "v1") })
      unary(ch, "Run", runW.result())
      assert(cat.status(ResourceKey("SOURCE", "tpch.orders.v1"))._1 == 3)
      unary(ch, "MarkForDeletion", resourceId("tpch.orders", "v1", 7))
      unary(ch, "FinalizeDeletion", resourceId("tpch.orders", "v1", 7))
      assert(cat.allSources.isEmpty)
    }
  }

  test("the catalog refuses a dotted variant from the Scala API; wire Create " +
       "maps that refusal to INVALID_ARGUMENT") {
    withServer() { (cat, _, ch) =>
      val e = intercept[IllegalArgumentException] {
        cat.registerFeature(FeatureVariant(ResourceId("f", "v.1"), ResourceId("orders"),
          graft.types.ResourceSchema("e", "v", None)))
      }
      assert(e.getMessage.contains("'v.1'"))
      val wire = intercept[StatusRuntimeException] {
        unary(ch, "CreateFeatureVariant", featureReq("f", "v.1", "orders", "v1",
          "customer", "o_custkey", "o_totalprice", "", "a"))
      }
      assert(wire.getStatus.getCode.toString == "INVALID_ARGUMENT")
      assert(cat.allFeatures.isEmpty)
    }
  }

  // ------------------------------------------ staged variants in parents

  /** The names of the NameVariant entries at `field` of `msg`. */
  private def nvNames(msg: Array[Byte], field: Int): Seq[String] = {
    val r = new R(msg)
    val out = Seq.newBuilder[String]
    r.fields { case (`field`, _) => out += nvOf(r.readBytes())._1 }
    out.result()
  }

  test("a staged feature drops out of GetUsers, GetEntities, GetProviders " +
       "and their List streams") {
    withServer() { (_, _, ch) =>
      unary(ch, "CreateUser", userReq("alice"))
      unary(ch, "CreateProvider", providerReq("p", "SPARK_OFFLINE", "core"))
      unary(ch, "CreateEntity", entityReq("customer", "a buyer"))
      unary(ch, "CreateSourceVariant",
        primarySourceReq("orders", "v1", s"$sf001/orders.parquet", "alice", "p"))
      Seq("f_keep", "f_gone").foreach { f =>
        unary(ch, "CreateFeatureVariant", createReq { fv =>
          featureBody(f, "v1", "orders", "v1", "customer", "o_custkey",
            "o_totalprice", "", "alice")(fv)
          fv.str(9, "p") // provider
        })
      }
      def named(): Seq[Seq[String]] = Seq(
        nvNames(bidiGet(ch, "GetUsers", Seq(nameReq("alice"))).head, 3),
        nvNames(listCall(ch, "ListUsers").head, 3),
        nvNames(bidiGet(ch, "GetEntities", Seq(nameReq("customer"))).head, 4),
        nvNames(listCall(ch, "ListEntities").head, 4),
        nvNames(bidiGet(ch, "GetProviders", Seq(nameReq("p"))).head, 9),
        nvNames(listCall(ch, "ListProviders").head, 9))
      assert(named().forall(_ == Seq("f_keep", "f_gone")), named())
      // FEATURE_VARIANT = 4
      unary(ch, "MarkForDeletion", resourceId("f_gone", "v1", 4))
      assert(named().forall(_ == Seq("f_keep")), named())
    }
  }
}
