package graft.ops

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.SparkSpec

class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("latest keeps max-ts row per entity, ties broken by max value") {
    val df = Seq(
      (1L, 10.0, ts("2024-01-01 00:00:00")),
      (1L, 20.0, ts("2024-01-02 00:00:00")),
      (1L, 15.0, ts("2024-01-02 00:00:00")), // tie on ts -> 20.0 wins
      (2L, 5.0, ts("2024-01-01 00:00:00"))
    ).toDF("entity", "value", "ts")
    val got = Materialize.latest(df, "entity", "value", Some("ts"))
      .orderBy("entity").collect()
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      Seq((1L, 20.0), (2L, 5.0)))
  }

  test("toTriple without ts injects epoch zero") {
    val df = Seq((1L, 2.0)).toDF("e", "v")
    val got = Materialize.toTriple(df, graft.types.ResourceSchema("e", "v", None))
      .collect().head
    assert(got.getTimestamp(2).getTime == 0L)
  }

  test("hash chunks are deterministic and complete") {
    val df = Seq.tabulate(100)(i => (i.toLong, i.toDouble)).toDF("entity", "value")
    val chunked = Materialize.withHashChunk(df, "entity", 8)
    assert(chunked.count() == 100)
    assert(chunked.select("chunk_id").distinct().count() <= 8)
    val again = Materialize.withHashChunk(df, "entity", 8)
    assert(chunked.except(again).count() == 0)
  }
}

class AsOfJoinSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val label = Seq(
    (1L, ts("2024-01-05 00:00:00"), 100.0),
    (1L, ts("2024-01-01 00:00:00"), 50.0), // before any feature -> NULL
    (2L, ts("2024-01-10 00:00:00"), 70.0)
  ).toDF("uid", "lts", "lval")

  private val feat = Seq(
    (1L, ts("2024-01-02 00:00:00"), 1.0),
    (1L, ts("2024-01-05 00:00:00"), 2.0), // equal ts inclusive
    (1L, ts("2024-01-06 00:00:00"), 3.0), // after label -> excluded
    (2L, ts("2024-01-03 00:00:00"), 9.0)
  ).toDF("fe", "fts", "fv")

  private def run(strategy: AsOfStrategy): Map[(Long, Timestamp), Option[Double]] =
    AsOfJoin.trainingSet(label, Map("entity" -> "uid"), "lval", Some("lts"),
        Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f1")), strategy)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap

  test("as-of semantics: inclusive ts, NULL padding, latest wins (UnionWindow)") {
    val got = run(UnionWindow)
    assert(got((1L, ts("2024-01-05 00:00:00"))).contains(2.0))
    assert(got((1L, ts("2024-01-01 00:00:00"))).isEmpty)
    assert(got((2L, ts("2024-01-10 00:00:00"))).contains(9.0))
  }

  test("SortMergeAsOf agrees with the declarative strategy") {
    assert(run(SortMergeAsOf) == run(UnionWindow))
  }

  test("feature TTL masks stale picks identically in all three strategies") {
    // label (2, 01-10) picked feature is (01-03, 9.0): 7 days stale.
    // TTL 4 days -> NULL; label (1, 01-05) pick (01-05, 2.0) age 0 -> kept.
    def runTtl(strategy: AsOfStrategy) =
      AsOfJoin.trainingSet(label, Map("entity" -> "uid"), "lval", Some("lts"),
          Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f1",
            maxAgeSeconds = Some(4L * 86400))), strategy)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    val want = Map(
      (1L, ts("2024-01-05 00:00:00")) -> Some(2.0),
      (1L, ts("2024-01-01 00:00:00")) -> None,
      (2L, ts("2024-01-10 00:00:00")) -> None) // stale -> masked
    assert(runTtl(UnionWindow) == want)
    assert(runTtl(SortMergeAsOf) == want)
    assert(runTtl(BroadcastAsOf()) == want)
    // boundary: exactly maxAge old is still fresh (inclusive)
    def runEdge(strategy: AsOfStrategy) =
      AsOfJoin.trainingSet(label, Map("entity" -> "uid"), "lval", Some("lts"),
          Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f1",
            maxAgeSeconds = Some(7L * 86400))), strategy)
        .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
          (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(runEdge(SortMergeAsOf)((2L, ts("2024-01-10 00:00:00"))) == Some(9.0))
  }

  test("BroadcastAsOf agrees, with ZERO exchanges in the plan") {
    assert(run(BroadcastAsOf()) == run(UnionWindow))
    val ts = AsOfJoin.trainingSet(label, Map("entity" -> "uid"), "lval",
      Some("lts"), Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f1")),
      BroadcastAsOf())
    val plan = ts.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
    // small-side guard refuses oversized feature tables
    val e = intercept[IllegalArgumentException] {
      AsOfJoin.trainingSet(label, Map("entity" -> "uid"), "lval", Some("lts"),
        Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f1")),
        BroadcastAsOf(maxRows = 2))
    }
    assert(e.getMessage.contains("exceeds"))
  }

  test("strategies agree on real events data") {
    val ev = graft.sources.Readers.eventsNormalized(spark, sf001)
    val lbl = ev.filter($"event_type" === "purchase")
    val clk = ev.filter($"event_type" === "click")
    def result(st: AsOfStrategy) = AsOfJoin.trainingSet(
      lbl, Map("entity" -> "user_id"), "value", Some("ts"),
      Seq(FeatureSide(clk, "user_id", "value", Some("ts"), "f")), st)
    // the custom merge operator on the same self-source inputs
    assert(result(SortMergeAsOf).except(result(UnionWindow)).count() == 0)
    assert(result(UnionWindow).except(result(SortMergeAsOf)).count() == 0)
    // the broadcast binary-search strategy on real data
    assert(result(BroadcastAsOf()).except(result(UnionWindow)).count() == 0)
    assert(result(UnionWindow).except(result(BroadcastAsOf())).count() == 0)
  }

  test("SortMergeAsOf plans the custom operator: no window, no join") {
    val ts = AsOfJoin.trainingSet(label, Map("entity" -> "uid"), "lval",
      Some("lts"), Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f1")),
      SortMergeAsOf)
    val plan = ts.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfMerge"), plan)
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"),
      plan)
  }

  test("SortMergeAsOf NULL semantics: null entity and null label ts pad NULL") {
    val lblN = Seq(
      (Option(1L), Option(ts("2024-01-05 00:00:00")), 1.0),
      (Option.empty[Long], Option(ts("2024-01-05 00:00:00")), 2.0),
      (Option(1L), Option.empty[Timestamp], 3.0)
    ).toDF("uid", "lts", "lval")
    def vals(st: AsOfStrategy) = AsOfJoin.trainingSet(lblN,
        Map("entity" -> "uid"), "lval", Some("lts"),
        Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f1")), st)
      .collect().map(r => r.getDouble(r.fieldIndex("label")) ->
        (if (r.isNullAt(r.fieldIndex("f1"))) None
         else Some(r.getDouble(r.fieldIndex("f1"))))).toMap
    val got = vals(SortMergeAsOf)
    assert(got == vals(UnionWindow))
    assert(got(1.0).contains(2.0)) // normal pick
    assert(got(2.0).isEmpty)       // null entity
    assert(got(3.0).isEmpty)       // null label ts
  }

  test("lag shifts feature availability") {
    val got = AsOfJoin.trainingSet(label, Map("entity" -> "uid"), "lval", Some("lts"),
        Seq(FeatureSide(feat, "fe", "fv", Some("fts"), "f1",
          lagSeconds = Some(3 * 24 * 3600L)))) // 3 days
      .collect().map(r => (r.getLong(0), r.getTimestamp(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    // at label 01-05, feature 01-02+3d = 01-05 visible (inclusive); 01-05+3d not
    assert(got((1L, ts("2024-01-05 00:00:00"))).contains(1.0))
  }

  test("multi-entity mappings join through different label columns") {
    val lbl2 = Seq((1L, 20L, ts("2024-01-05 00:00:00"), 1.0))
      .toDF("ka", "kb", "lts", "lval")
    val fa = Seq((1L, 11.0)).toDF("ea", "va")
    val fb = Seq((20L, 22.0)).toDF("eb", "vb")
    val got = AsOfJoin.trainingSet(lbl2,
      Map("A" -> "ka", "B" -> "kb"), "lval", Some("lts"),
      Seq(FeatureSide(fa, "ea", "va", None, "f_a", entityName = "A"),
        FeatureSide(fb, "eb", "vb", None, "f_b", entityName = "B"))).collect().head
    assert(got.getDouble(got.fieldIndex("f_a")) == 11.0)
    assert(got.getDouble(got.fieldIndex("f_b")) == 22.0)
  }
}

class SplitSpec extends SparkSpec {
  import spark.implicits._

  test("split is deterministic, disjoint, and near the requested fraction") {
    val df = Seq.tabulate(2000)(i => (i.toLong, i * 2.0)).toDF("id", "v")
    val s1 = Split.withSplit(df, Seq("id"), 0.25, seed = 7L)
    val s2 = Split.withSplit(df, Seq("id"), 0.25, seed = 7L)
    assert(s1.except(s2).count() == 0)
    val frac = s1.filter($"is_test" === 1).count().toDouble / 2000
    assert(math.abs(frac - 0.25) < 0.05, s"frac=$frac")
    assert(Split.train(df, Seq("id"), 0.25, 7L).count() +
      Split.test(df, Seq("id"), 0.25, 7L).count() == 2000)
  }

  test("different seeds give different splits") {
    val df = Seq.tabulate(500)(i => Tuple1(i.toLong)).toDF("id")
    val a = Split.test(df, Seq("id"), 0.5, 1L).select("id").as[Long].collect().toSet
    val b = Split.test(df, Seq("id"), 0.5, 2L).select("id").as[Long].collect().toSet
    assert(a != b)
  }

  test("clusterSafeSplit: no near-dup cluster straddles train/test; singletons split per own id") {
    val df = Seq.tabulate(300)(i => Tuple1(i.toLong)).toDF("doc_id")
    // pair graph: a 5-chain (0..4), a triangle (10,11,12), a pair (20,21)
    val pairs = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L), (20L, 21L)).toDF("idA", "idB")
    val got = Split.clusterSafeSplit(df, pairs, "doc_id", 0.5, 7L)
    // every cluster entirely on one side
    val sidesPerCluster = got.groupBy("cluster_id")
      .agg(org.apache.spark.sql.functions.countDistinct($"is_test").as("k"))
      .filter($"k" > 1).count()
    assert(sidesPerCluster == 0)
    // clustered docs share the component-min cluster id
    val m = got.select("doc_id", "cluster_id").as[(Long, Long)].collect().toMap
    assert(Seq(0L, 1L, 2L, 3L, 4L).map(m) == Seq.fill(5)(0L))
    assert(Seq(10L, 11L, 12L).map(m) == Seq.fill(3)(10L))
    assert(m(20L) == 20L && m(21L) == 20L)
    // singletons behave exactly like the plain id-keyed split
    val single = got.filter($"cluster_id" === $"doc_id" &&
      !$"doc_id".isin(0L, 10L, 20L))
    val plain = Split.withSplit(
      single.select($"doc_id"), Seq("doc_id"), 0.5, 7L)
    assert(single.select("doc_id", "is_test")
      .except(plain.select($"doc_id", $"is_test".cast("int"))).count() == 0)
  }
}

class BatchJoinSpec extends SparkSpec {
  import spark.implicits._

  test("full-outer batch join coalesces entities across features") {
    val f1 = Seq((1L, 10.0), (2L, 20.0)).toDF("entity", "value")
    val f2 = Seq((2L, 0.2), (3L, 0.3)).toDF("entity", "value")
    val got = BatchJoin.batchFeatures(Seq("a" -> f1, "b" -> f2))
      .orderBy("entity").collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    assert(got(0).isNullAt(2) && got(2).isNullAt(1)) // NULL padding both sides
  }
}

class SkewSpec extends graft.SparkSpec {
  import spark.implicits._

  test("salted join equals plain join on skewed data") {
    // hot key: 90% of rows share key 1
    val large = (Seq.fill(900)(1L) ++ (2L to 101L)).zipWithIndex
      .map { case (k, i) => (k, i.toDouble) }.toDF("k", "v")
    val dim = Seq((1L, "hot"), (2L, "a"), (50L, "b"), (999L, "miss"))
      .toDF("k", "name")
    val plain = large.join(dim, Seq("k"), "inner")
    val salted = Skew.saltedJoin(large, dim, "k", buckets = 8)
    assert(salted.count() == plain.count())
    assert(salted.select("k", "v", "name").except(plain.select("k", "v", "name")).count() == 0)
    assert(plain.select("k", "v", "name").except(salted.select("k", "v", "name")).count() == 0)
  }

  test("adaptiveJoin: stats pick broadcast / shuffle / salted; results " +
    "identical in all regimes") {
    val big = (Seq.fill(900)(1L) ++ (2L to 101L)).zipWithIndex
      .map { case (k, i) => (k, i.toDouble) }.toDF("k", "v")
    val dim = Seq((1L, "hot"), (2L, "a"), (50L, "b"), (999L, "miss"))
      .toDF("k", "name")
    val plain = big.join(dim, Seq("k")).orderBy("k", "v").collect().toSeq
    // small side under the row cap → broadcast
    val (j1, s1) = Skew.adaptiveJoin(big, dim, "k")
    assert(s1 === "broadcast")
    assert(j1.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"))
    // cap lowered, skew threshold high: mx·k = 900·101 < 1000·1000 → plain
    val (j2, s2) = Skew.adaptiveJoin(big, dim, "k",
      maxBroadcastRows = 2, skewFactor = 1000)
    assert(s2 === "shuffle")
    // skew threshold low: the hot key trips the salted path
    val (j3, s3) = Skew.adaptiveJoin(big, dim, "k",
      maxBroadcastRows = 2, skewFactor = 10)
    assert(s3 === "salted")
    for (j <- Seq(j1, j2, j3))
      assert(j.select("k", "v", "name").orderBy("k", "v").collect().toSeq
        === plain.map(r => r))
  }

  test("bloomPrefilteredJoin is row-identical to the plain join") {
    val big = (1L to 2000L).map(k => (k, s"p$k")).toDF("k", "payload")
    val small = (1L to 2000L by 97L).map(k => (k, s"d$k")).toDF("k", "dim")
    val viaBloom = Skew.bloomPrefilteredJoin(big, small, "k")
      .orderBy("k").collect().toSeq
    val plain = big.join(small, Seq("k")).orderBy("k").collect().toSeq
    assert(viaBloom === plain)
    assert(viaBloom.nonEmpty)
    // empty small side filters everything out
    assert(Skew.bloomPrefilteredJoin(big, small.where($"k" < 0), "k")
      .count() === 0L)
  }
}

class RegistrySpec extends graft.SparkSpec {
  import spark.implicits._

  test("custom expressions callable from SQL") {
    graft.functions.Registry.registerAll(spark)
    Seq(("hello world hello", "hello world")).toDF("a", "b")
      .createOrReplaceTempView("reg_test")
    val r = spark.sql(
      """SELECT kgram_jaccard(a, a, 3) AS self_sim,
        |       simhash64(split(a, ' ')) AS sh,
        |       minhash_sig(a, 5, 16) AS sig,
        |       fvec_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |                array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS dot
        |FROM reg_test""".stripMargin).collect().head
    assert(r.getDouble(0) == 1.0)
    assert(r.getSeq[Long](2).length == 16)
    assert(r.getDouble(3) == 11.0)
    val r2 = spark.sql(
      """SELECT jaro_winkler('martha', 'marhta') AS jw,
        |       word_ngrams('a b c d', 2) AS grams
        |FROM reg_test""".stripMargin).collect().head
    assert(math.abs(r2.getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(r2.getSeq[String](1) == Seq("a b", "b c", "c d"))
    // containment of a substring in its superstring is 1; reverse < 1
    val r3 = spark.sql(
      """SELECT kgram_containment(b, a, 3) AS small_in_big,
        |       kgram_containment(a, b, 3) AS big_in_small
        |FROM reg_test""".stripMargin).collect().head
    assert(r3.getDouble(0) == 1.0)
    assert(r3.getDouble(1) < 1.0)
  }

  test("hll sketches merge from SQL (hll_union_est)") {
    graft.functions.Registry.registerAll(spark)
    import graft.functions.expressions.Sketches
    val a = (1 to 500).map(i => s"v$i").toDF("s")
    val b = (251 to 700).map(i => s"v$i").toDF("s")
    a.agg(Sketches.hllSketch(col("s")).as("sk"))
      .crossJoin(b.agg(Sketches.hllSketch(col("s")).as("sk2")))
      .createOrReplaceTempView("sk_pair")
    val u = spark.sql("SELECT hll_union_est(sk, sk2) AS u FROM sk_pair")
      .collect().head.getLong(0)
    val direct = a.union(b).agg(Sketches.hllNdv(col("s")))
      .collect().head.getLong(0)
    assert(u === direct)
  }

  test("registerAll installs the whole function table (md5_hll included)") {
    graft.functions.Registry.registerAll(spark)
    import graft.functions.expressions.Sketches
    val vals = (1 to 700).map(i => s"v${i % 450}").toDF("s")
    vals.createOrReplaceTempView("hll_vals")
    val viaSql = spark.sql("SELECT md5_hll(s) AS n FROM hll_vals")
      .collect().head.getLong(0)
    val direct = vals.agg(Sketches.hllNdv(col("s"))).collect().head.getLong(0)
    assert(viaSql === direct)
    graft.functions.Registry.builders.foreach { case (id, _, _) =>
      assert(spark.catalog.functionExists(id.funcName), id.funcName)
    }
  }
}

class DistributedRowNumberSpec extends graft.SparkSpec {
  import spark.implicits._

  test("distributed row numbering matches the window form") {
    val df = Seq.tabulate(500)(i => ((i * 37) % 500L, i.toDouble))
      .toDF("entity", "value")
    val viaWindow = Materialize.withGlobalRowNumber(df, Seq(col("entity").asc))
      .select($"entity", $"row_number".cast("long")).as[(Long, Long)].collect().toMap
    val viaDist = Materialize.withDistributedRowNumber(df, Seq(col("entity")))
      .select($"entity", $"row_number").as[(Long, Long)].collect().toMap
    assert(viaDist == viaWindow)
    assert(viaDist.values.toSeq.sorted == (1L to 500L))
  }
}
