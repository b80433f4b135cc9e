package graft.serving

import java.net.{HttpURLConnection, URI}
import scala.io.Source
import graft.SparkSpec

/** Integration test for the HTTP serving façade: real sockets, real
  * request/response cycles against a live [[ServingServer]] — the §3.3
  * online-inference boundary (reference serving/serving.go:617-714). */
class ServingServerSpec extends SparkSpec {
  import spark.implicits._

  private def get(url: String): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setConnectTimeout(5000); conn.setReadTimeout(10000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = Source.fromInputStream(is, "UTF-8").mkString
    conn.disconnect()
    (code, body)
  }

  /** NDJSON stream protocol: first frame is the `{"schema":…}` header
    * (asserted), the rest are the data rows. */
  private def dataLines(body: String): Seq[String] = {
    val lines = body.trim.split('\n').filter(_.nonEmpty).toSeq
    assert(lines.nonEmpty && lines.head.startsWith("""{"schema":"""),
      s"expected schema header frame, got: ${lines.headOption}")
    lines.tail
  }

  test("features, on-demand, nearest, training stream and preview over a socket") {
    val store = new OnlineStore(new InProcessKv)
    store.load("clicks", Seq((1L, 10L), (2L, 20L)).toDF("entity", "value"))
    store.load("spend", Seq((1L, 1.5), (2L, 2.5)).toDF("entity", "value"))
    store.registerOnDemand("spend_x2",
      (params, pre) => pre.head.asInstanceOf[Long] * 2L)
    store.loadVectors("emb", Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(0.9f, 0.1f))).toDF("entity", "vector"))

    val srv = new ServingServer(store).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      assert(get(s"$base/health")._2 == """{"status":"ok"}""")

      // O1/O2: row assembly; O3: request-time on-demand over precomputed
      val (c1, b1) = get(s"$base/features?names=clicks,spend,spend_x2&entity=1")
      assert(c1 == 200)
      assert(b1 == """{"entity":"1","values":[10,1.5,20]}""")
      // missing entity -> nulls
      assert(get(s"$base/features?names=clicks&entity=99")._2
        == """{"entity":"99","values":[null]}""")
      // missing args -> 400, not a hang or a 500
      assert(get(s"$base/features?entity=1")._1 == 400)

      // O4: nearest over the loaded vector table
      val (c2, b2) = get(s"$base/nearest?feature=emb&k=2&q=1.0,0.05")
      assert(c2 == 200)
      assert(b2.startsWith("""[{"id":1,"""") || b2.startsWith("""[{"id":1,"""))
      assert("\"id\":(\\d+)".r.findAllMatchIn(b2).map(_.group(1)).toSeq
        == Seq("1", "3"))

      // O5: training stream (JSONL, repeat + limit honored)
      val ts = Seq((1L, "a", 0.5), (2L, "b", 1.5)).toDF("e", "s", "v")
      srv.registerDataset("ts1", ts)
      val (c3, b3) = get(s"$base/training?name=ts1&repeat=2")
      assert(c3 == 200)
      // first frame is the schema header (reference TrainingDataColumns
      // rides the stream too), then the rows
      assert(b3.trim.split('\n').head ==
        """{"schema":[{"name":"e","type":"bigint","nullable":false},""" +
          """{"name":"s","type":"string","nullable":true},""" +
          """{"name":"v","type":"double","nullable":false}]}""")
      val lines = dataLines(b3)
      assert(lines.size == 4)
      assert(lines.head == """[1,"a",0.5]""")
      assert(dataLines(get(s"$base/training?name=ts1&repeat=3&limit=5")._2)
        .length == 5) // the header frame is NOT counted against limit
      // shuffled stream is a permutation per repeat block size
      val (_, b4) = get(s"$base/training?name=ts1&shuffle=8&seed=7")
      assert(dataLines(b4).toSet == Set("""[1,"a",0.5]""", """[2,"b",1.5]"""))

      // O6: preview
      assert(dataLines(get(s"$base/preview?name=ts1&limit=1")._2)
        == Seq("""[1,"a",0.5]"""))
      assert(get(s"$base/training?name=nope")._1 == 400)

      // column metadata endpoint (TrainingDataColumns / SourceColumns)
      assert(get(s"$base/columns?name=ts1")._2 ==
        """{"name":"ts1","columns":[""" +
          """{"name":"e","type":"bigint","nullable":false},""" +
          """{"name":"s","type":"string","nullable":true},""" +
          """{"name":"v","type":"double","nullable":false}]}""")
      assert(get(s"$base/columns?name=nope")._1 == 400)

      // X3: split protocol — train/test partition exactly and replay
      val wide = (1L to 40L).map(i => (i, i * 0.5)).toDF("k", "v")
      srv.registerDataset("w", wide)
      def side(sd: String) = dataLines(get(
        s"$base/split?name=w&side=$sd&keys=k&testSize=0.25&seed=7")._2).toSet
      val (tr, te) = (side("train"), side("test"))
      assert(tr.nonEmpty && te.nonEmpty)
      assert((tr & te).isEmpty && (tr ++ te).size == 40)
      assert(side("train") == tr) // deterministic replay
      assert(get(s"$base/split?name=w&side=bogus&keys=k")._1 == 400)

      // B3: /batch streams every entity across the named tables once,
      // row-assembled like /features (null where a feature is missing)
      store.load("only2", Seq((2L, 7L)).toDF("entity", "value"))
      val (cb, bb) = get(s"$base/batch?names=clicks,only2,spend_x2")
      assert(cb == 200)
      // KV-backed stream: names-only schema header (the store is
      // schemaless), then the assembled rows
      assert(bb.trim.split('\n').head ==
        """{"schema":[{"name":"entity"},{"name":"clicks"},""" +
          """{"name":"only2"},{"name":"spend_x2"}]}""")
      val bl = dataLines(bb).toSet
      assert(bl == Set("[1,10,null,20]", "[2,20,7,40]"))
      assert(dataLines(get(s"$base/batch?names=clicks&limit=1")._2)
        .length == 1)
      assert(get(s"$base/batch?entity=1")._1 == 400)

      // right-to-erasure on the wire: forgotten entity reads null after
      assert(get(s"$base/forget?names=clicks&entity=1")._1 == 200)
      assert(get(s"$base/features?names=clicks&entity=1")._2
        == """{"entity":"1","values":[null]}""")
      assert(get(s"$base/features?names=clicks&entity=2")._2
        == """{"entity":"2","values":[20]}""") // others untouched
      assert(get(s"$base/forget?entity=1")._1 == 400)
    } finally srv.stop()
  }

  test("dashboard read plane: /search ranks catalog resources, /lineage " +
       "exports the DAG + run states; unbound catalog answers 501") {
    import graft.catalog._
    val cat = new Catalog(spark)
    cat.registerSource(SourceVariant(ResourceId("orders"),
      PrimaryData(s"$sf001/orders.parquet")))
    cat.registerFeature(FeatureVariant(ResourceId("f_rev"), ResourceId("orders"),
      graft.types.ResourceSchema("o_custkey", "o_totalprice", None)))
    cat.addTags(ResourceKey("FEATURE", "f_rev.default"), Seq("revenue"))
    val stateDir = graft.TempDirs.create("graft_dash").toString
    val runner = new graft.sched.TaskRunner(spark, stateDir, backoffMs = 1)
    // flaky: fails once, then succeeds — /lineage must serve each run's
    // CURRENT state off the latest-run index (one row, the success), not
    // the per-attempt ledger history (which would also list the failure)
    val tries = new java.util.concurrent.atomic.AtomicInteger(0)
    runner.run("f_rev", "v1") {
      if (tries.incrementAndGet() < 2) sys.error("flaky"); 1
    }
    val srv = new ServingServer(new OnlineStore(new InProcessKv),
      catalog = Some(cat), tasks = Some(runner)).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      // tag + name tokens all hit ("f_rev" tokenizes to f, rev): score 3
      val (c1, b1) = get(s"$base/search?q=revenue+f_rev")
      assert(c1 == 200)
      assert(b1.contains(""""kind":"FEATURE","id":"f_rev.default","score":3"""))
      // prefix match on the source name
      val (c2, b2) = get(s"$base/search?q=ord")
      assert(c2 == 200 && b2.contains(""""id":"orders.default""""))
      assert(get(s"$base/search")._1 == 400) // q required
      val (c3, b3) = get(s"$base/lineage")
      assert(c3 == 200)
      assert(b3.contains(""""id":"orders.default","type":"source""""))
      assert(b3.contains(""""from":"orders.default","to":"f_rev.default""""))
      assert(b3.contains(""""task":"f_rev","runKey":"v1","attempt":2,"status":"success""""))
      assert(!b3.contains(""""status":"failed""""),
        "/lineage serves current state per run, not per-attempt history")
      // browse view: statuses, staged flags, tags; kind filter narrows
      val (c4, b4) = get(s"$base/resources")
      assert(c4 == 200)
      assert(b4.contains(
        """{"kind":"FEATURE","id":"f_rev.default","status":0,"staged":false,"tags":["revenue"]}"""))
      val (c5, b5) = get(s"$base/resources?kind=SOURCE")
      assert(c5 == 200 && b5.contains("orders.default") && !b5.contains("f_rev"))
    } finally srv.stop()
    // no catalog bound → 501, not a 500 or a hang
    val bare = new ServingServer(new OnlineStore(new InProcessKv)).start()
    try {
      assert(get(s"http://127.0.0.1:${bare.boundPort}/search?q=x")._1 == 501)
      assert(get(s"http://127.0.0.1:${bare.boundPort}/lineage")._1 == 501)
    } finally bare.stop()
  }

  test("concurrent clients: parallel /features + /nearest stay correct and isolated") {
    val store = new OnlineStore(new InProcessKv)
    store.load("f", (1L to 200L).map(i => (i, i * 3L)).toDF("entity", "value"))
    store.loadVectors("emb", Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))).toDF("entity", "vector"))
    val srv = new ServingServer(store).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      import java.util.concurrent.{Executors, TimeUnit}
      val pool = Executors.newFixedThreadPool(16)
      val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      for (i <- 0 until 200) pool.submit(new Runnable {
        def run(): Unit = try {
          val e = (i % 200) + 1
          val (c, b) = get(s"$base/features?names=f&entity=$e")
          if (c != 200 || b != s"""{"entity":"$e","values":[${e * 3}]}""")
            errors.add(s"features($e): $c $b")
          val (c2, _) = get(s"$base/nearest?feature=emb&k=1&q=1.0,0.0")
          if (c2 != 200) errors.add(s"nearest: $c2")
          done.incrementAndGet()
        } catch { case t: Throwable => errors.add(t.toString) }
      })
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      assert(errors.isEmpty, errors.toString)
      assert(done.get() == 200)
    } finally srv.stop()
  }

  test("mid-stream failure aborts the chunked stream instead of faking a clean end") {
    val store = new OnlineStore(new InProcessKv)
    val srv = new ServingServer(store).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      // rows 0..9 stream fine; row 10 throws inside the iterator — after
      // the 200 header is committed
      val bad = spark.range(0, 20).select(
        org.apache.spark.sql.functions.expr(
          "CASE WHEN id < 10 THEN id ELSE raise_error('boom') END").as("v"))
      srv.registerDataset("bad", bad)
      val (code, body) = get(s"$base/training?name=bad")
      assert(code == 200) // headers committed before the failure
      val lines = dataLines(body) // schema header first, as always
      // the streamed prefix survives; the stream ends with an IN-BAND error
      // frame (an object, unambiguous vs the array data lines) rather than
      // a clean end that fakes completeness
      assert(lines.last.startsWith("""{"error":"""))
      assert(lines.init.forall(_.startsWith("[")))
      assert(lines.init.length < 20) // the failing tail was never emitted
      // the server survives the failed exchange
      assert(get(s"$base/health")._2 == """{"status":"ok"}""")
    } finally srv.stop()
  }

  test("params-dependent on-demand features: closure AND durable expression form") {
    val store = new OnlineStore(new InProcessKv)
    store.load("spend", Seq((1L, 100.0), (2L, 40.0)).toDF("entity", "value"))
    // closure form: reads a request param (reference on-demand functions
    // receive (client, params, entities) — serving.py:236-241)
    store.registerOnDemand("spend_rate",
      (params, pre) => pre.head.asInstanceOf[Double] *
        params("rate").asInstanceOf[Double])
    // durable expression-string form (OnDemandVariant's serving twin):
    // sees the same named inputs — precomputed values + request params
    store.registerOnDemandExpr(spark, "spend_taxed",
      "spend * (1.0 + rate)",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("spend",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("rate",
          org.apache.spark.sql.types.DoubleType))))
    val srv = new ServingServer(store).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      // the same entity served with different params gives different values
      assert(get(s"$base/features?names=spend,spend_rate,spend_taxed&entity=1&rate=0.2")._2
        == """{"entity":"1","values":[100.0,20.0,120.0]}""")
      assert(get(s"$base/features?names=spend,spend_rate,spend_taxed&entity=1&rate=0.5")._2
        == """{"entity":"1","values":[100.0,50.0,150.0]}""")
      assert(get(s"$base/features?names=spend_taxed&entity=2&rate=0.25")._2
        == """{"entity":"2","values":[50.0]}""")
      // absent param: the expression evaluates with NULL, SQL semantics
      assert(get(s"$base/features?names=spend_taxed&entity=1")._2
        == """{"entity":"1","values":[null]}""")
      // documented precedence: a request param named like a requested
      // feature WINS over the store's value as an expression input
      // (spend=5 overrides the stored 100.0 → 5 * 1.2 = 6.0), while the
      // directly-served `spend` column still reports the store
      assert(get(s"$base/features?names=spend,spend_taxed&entity=1&rate=0.2&spend=5")._2
        == """{"entity":"1","values":[100.0,6.0]}""")
      // non-numeric param for a numeric input coerces to NULL (SQL CAST
      // semantics), never a 500
      assert(get(s"$base/features?names=spend_taxed&entity=1&rate=abc")._2
        == """{"entity":"1","values":[null]}""")
    } finally srv.stop()
  }

  test("expression on-demand compiles once and fails fast on bad definitions") {
    val store = new OnlineStore(new InProcessKv)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType)))
    // unknown column and parse errors surface at REGISTRATION, like the
    // reference rejecting a bad on-demand definition
    intercept[Exception] {
      store.registerOnDemandExpr(spark, "bad", "nope + 1", schema)
    }
    intercept[Exception] {
      store.registerOnDemandExpr(spark, "bad", "SELECT FROM", schema)
    }
    // good definition: evaluated driver-side, no Spark job per request
    store.registerOnDemandExpr(spark, "x2", "x * 2 + length('ab')", schema)
    val before = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(store.features(Seq("x2"), entity = 9L, Map("x" -> 9L))
      == Seq(Some(20L)))
    val after = spark.sparkContext.statusTracker.getJobIdsForGroup(null).length
    assert(before == after, "expression eval must not launch Spark jobs")
  }

  test("/metrics: prometheus counters and histograms advance per route") {
    val store = new OnlineStore(new InProcessKv)
    store.load("f", Seq((1L, 5L)).toDF("entity", "value"))
    val srv = new ServingServer(store).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      (1 to 5).foreach(_ => get(s"$base/features?names=f&entity=1"))
      get(s"$base/features?entity=1") // 400 -> error counter
      get(s"$base/health")
      val (code, text) = get(s"$base/metrics")
      assert(code == 200)
      def metric(line: String): Long =
        text.linesIterator.find(_.startsWith(line)).map(_.split(' ').last.toLong)
          .getOrElse(fail(s"metric not found: $line"))
      assert(metric("""graft_requests_total{path="/features"}""") == 6L)
      assert(metric("""graft_request_errors_total{path="/features"}""") == 1L)
      assert(metric("""graft_requests_total{path="/health"}""") == 1L)
      assert(metric("""graft_request_errors_total{path="/health"}""") == 0L)
      // histogram: buckets cumulative/monotone, +Inf == count, sum > 0
      val buckets = text.linesIterator.filter(_.startsWith(
        """graft_request_latency_ms_bucket{path="/features"""")).toSeq
        .map(_.split(' ').last.toLong)
      assert(buckets == buckets.sorted, s"buckets not monotone: $buckets")
      assert(buckets.last ==
        metric("""graft_request_latency_ms_count{path="/features"}"""))
      assert(text.linesIterator.exists(l =>
        l.startsWith("""graft_request_latency_ms_sum{path="/features"}""") &&
          l.split(' ').last.toDouble > 0.0))
      // histogram-derived quantiles are available programmatically too
      // (ServingBench reads its latency numbers from here)
      assert(srv.metrics.quantileMs("/features", 0.5) > 0.0)
      assert(srv.metrics.quantileMs("/features", 0.99)
        >= srv.metrics.quantileMs("/features", 0.5))
    } finally srv.stop()
  }

  test("per-feature counters advance independently (reference labels " +
    "metrics by feature, not just route)") {
    val store = new OnlineStore(new InProcessKv)
    store.load("fa", Seq((1L, 5L)).toDF("entity", "value"))
    store.load("fb", Seq((1L, 7L)).toDF("entity", "value"))
    val srv = new ServingServer(store).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      store.registerOnDemand("boom",
        (_, _) => throw new RuntimeException("kaput"))
      (1 to 3).foreach(_ => get(s"$base/features?names=fa&entity=1"))
      // one request touching BOTH features advances both
      get(s"$base/features?names=fa,fb&entity=1")
      // a failing on-demand feature errors under its own label
      get(s"$base/features?names=boom&entity=1")
      val (code, text) = get(s"$base/metrics")
      assert(code == 200)
      def metric(line: String): Long =
        text.linesIterator.find(_.startsWith(line)).map(_.split(' ').last.toLong)
          .getOrElse(fail(s"metric not found: $line"))
      assert(metric("""graft_feature_requests_total{feature="fa"}""") == 4L)
      assert(metric("""graft_feature_requests_total{feature="fb"}""") == 1L)
      assert(metric("""graft_feature_errors_total{feature="fa"}""") == 0L)
      assert(metric("""graft_feature_errors_total{feature="fb"}""") == 0L)
      assert(metric("""graft_feature_requests_total{feature="boom"}""") == 1L)
      assert(metric("""graft_feature_errors_total{feature="boom"}""") == 1L)
      // programmatic twin of the scrape
      assert(srv.metrics.featureStats("fa").get.requests.sum() == 4L)
      assert(srv.metrics.featureStats("fb").get.errors.sum() == 0L)
      // per-feature latency histogram: buckets monotone, +Inf == count,
      // sum observed (reference observes latency per feature too)
      val fbuckets = text.linesIterator.filter(_.startsWith(
        """graft_feature_latency_ms_bucket{feature="fa"""")).toSeq
        .map(_.split(' ').last.toLong)
      assert(fbuckets == fbuckets.sorted && fbuckets.last == 4L)
      assert(srv.metrics.featureStats("fa").get.latencySumNs.sum() > 0L)
    } finally srv.stop()
  }

  test("metrics label escaping: backslash, quote, and newline in a feature " +
    "name cannot corrupt the exposition (names come from raw requests)") {
    val m = new Metrics
    // the ADVICE r9 exploit: a name ending in a lone backslash renders
    // feature="a\" where the backslash escapes the closing quote —
    // every later scrape unparseable. Plus embedded quote and newline.
    m.observeFeature("a\\", error = false)
    m.observeFeature("q\"uote", error = false)
    m.observeFeature("nl\nline", error = false)
    m.observe("/p\\ath\n", 1000L, error = false)
    val text = m.render()
    // prometheus text format: every line is `name{labels} value` on ONE
    // line, label values escape \ " and newline
    text.linesIterator.filter(_.nonEmpty).filterNot(_.startsWith("#"))
      .foreach { line =>
        assert(line.matches("""\S+\{[^{}]*\} \S+( \S+)?"""),
          s"malformed exposition line: $line")
      }
    assert(text.contains("""feature="a\\""""))
    assert(text.contains("""feature="q\"uote""""))
    assert(text.contains("""feature="nl\nline""""))
    assert(text.contains("""path="/p\\ath\n""""))
    // and the escaped lines still carry their counts
    assert(text.contains("""graft_feature_requests_total{feature="a\\"} 1"""))
  }
}
