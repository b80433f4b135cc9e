package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Adversarial scale/skew harness — converts the engine's yes-by-design
  * 100 TB claims into measured evidence (round-3 verdict, next-round #1).
  *
  * From the sf0.1 tables it derives two structurally-identical corpora, 1×
  * and 10×, with PLANTED hazards whose proportions are constant but whose
  * absolute sizes cross the engine's guard thresholds only at 10×:
  *
  *  - one entity owns 30% of all events (hot as-of history, hot join key);
  *  - those hot-entity events collapse into a single hour (hot range-join
  *    time bucket → AQE skew-split territory);
  *  - 20% of documents share an appended boilerplate sentence (hot
  *    winnowing fingerprints);
  *  - 5% of documents are byte-identical clones of that sentence (hot
  *    MinHash bands + SimHash quarters: 250 clones at 1× sit under the
  *    2000-doc frequency cap, 2500 at 10× trip it);
  *  - 12.5% of embeddings are one fixed vector (hot LSH signature bucket:
  *    250 at 1× sit under the cap, 2500 at 10× trip it).
  *
  * It then times the dedup / as-of / range / salted-join families at both
  * scales and ASSERTS, not just reports:
  *  (a) every capped LSH family actually fired its hot-key cap at 10×
  *      ([[graft.functions.Dedup.capStats]]);
  *  (b) AQE's skew-join split activated on the 10× range join;
  *  (c) wall-clock grew ≤ 30× for the linear-by-design families (a
  *      quadratic blow-up would be ~100×) — since round 6 that includes
  *      default-argument fuzzy_link (2-token blocking is now the default)
  *      and simhash_bounded (Manku 6-choose-3 ~32-bit block keys);
  *  (d) the triangle-closing join's measure-then-pick broadcast gate
  *      actually flips: hinted at 1× (edges under the cap), unhinted at
  *      10× (over), with wall-clock in the assertion set.
  *      Two coarse OPT-IN modes remain reported but NOT bounded, for the
  *      same structural reason: with FIXED bucketing resolution their
  *      sub-cap candidate mass grows ~quadratically with corpus size by
  *      construction — hyperplane cosine (fixed plane count ⇒ bucket
  *      density grows) and quarter-band SimHash / 1-token fuzzy linkage
  *      (random 16-bit band collisions ≈ n²/2¹⁶; natural first-token
  *      blocks grow with the corpus). The caps bound the WORST bucket in
  *      each; the production remedies are the bounded defaults above and
  *      the incremental signature-table paths (minhashSignatureTable /
  *      hammingNearDupsIncremental), which make the steady state
  *      new-batch × corpus instead of corpus².
  *
  * Output: one JSON line + `BENCH_skew_c<cpus>.json` in the working
  * directory.
  * Exit code != 0 when any assertion fails.
  */
object SkewBench {

  private val Boiler =
    "all rights reserved unsubscribe from this newsletter terms of service " +
      "apply contact support for help privacy policy cookie settings"

  private def genDocs(spark: SparkSession, sfDir: String, mult: Int,
                      out: String): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text")
    docs.withColumn("copy", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("id", col("doc_id") + col("copy") * 5000L)
      .withColumn("text",
        when(pmod(col("id"), lit(20)) === 0, lit(Boiler)) // 5% identical clones
          .when(pmod(col("id"), lit(5)) === 0,            // 20% boilerplate'd
            concat(col("text"), lit(" variant "), col("copy"),
              lit(" "), col("doc_id"), lit(". "), lit(Boiler)))
          .otherwise(concat(col("text"), lit(" variant "), col("copy"),
            lit(" "), col("doc_id"))))
      .select("id", "text")
      .write.mode("overwrite").parquet(out)
  }

  private def genEvents(spark: SparkSession, sfDir: String, mult: Int,
                        out: String): Unit = {
    val ev = graft.sources.Readers.eventsNormalized(spark, sfDir)
      .select("event_id", "ts", "user_id", "event_type", "value")
    ev.withColumn("copy", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("id", col("event_id") + col("copy") * 10000000L)
      // 30% of all events: one entity, one hour (hot history + hot bucket)
      .withColumn("hot", pmod(col("id"), lit(10)) < 3)
      .withColumn("user_id",
        when(col("hot"), lit(77L)).otherwise(col("user_id")))
      .withColumn("ts",
        when(col("hot"), expr(
          "timestamp '2024-01-15 12:00:00' + make_interval(0,0,0,0,0,0, id % 3600)"))
          .otherwise(expr("ts + make_interval(0,0,0,0,0,0, copy)")))
      .select("id", "ts", "user_id", "event_type", "value")
      .write.mode("overwrite").parquet(out)
  }

  private def genEmbeddings(spark: SparkSession, sfDir: String, mult: Int,
                            out: String): Unit = {
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select("vec_id", "embedding")
    emb.withColumn("copy", explode(sequence(lit(0), lit(mult - 1))))
      .withColumn("id", col("vec_id") + col("copy") * 2000L)
      // 12.5% one fixed direction (hot signature bucket); the rest get a
      // direction-changing per-copy perturbation so copies spread
      .withColumn("embedding",
        when(pmod(col("id"), lit(8)) === 0,
          expr("transform(sequence(0, size(embedding) - 1), " +
            "i -> cast(1.0 + i * 0.01 as float))"))
          .otherwise(expr(
            "transform(embedding, (x, i) -> cast(x * (1.0 + " +
              "((id * 31 + i) % 13 - 6) * 0.02) as float))")))
      .select("id", "embedding")
      .write.mode("overwrite").parquet(out)
  }

  /** min-of-two timing: the scaling assertions compare x10/x1 RATIOS of
    * sub-second-to-minute measurements, and a co-tenant CPU spike landing
    * on one family at one scale fabricates a superlinear "finding"; the
    * minimum of two back-to-back runs approximates the uncontended time
    * at both scales, which is what the design claim is about. */
  private def time[A](body: => A): (Double, A) = {
    def once: (Double, A) = {
      val t0 = System.nanoTime()
      val a = body
      ((System.nanoTime() - t0) / 1e9, a)
    }
    val first = once
    val second = once
    if (first._1 <= second._1) first else second
  }

  private def force(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** `nChains` chains of `chainLen` nodes as `idA`/`idB` pairs: node ids
    * scattered by an affine permutation mod a prime (injective: g < P,
    * gcd(48271, P) = 1) so sorted ids give the closure no shortcut, and
    * spread round-robin so adjacent edges land in different partitions. */
  private def chainGraph(spark: SparkSession, nChains: Int,
                         chainLen: Int): DataFrame = {
    val P = 10000019L
    def perm(c: org.apache.spark.sql.Column) = (c * 48271L) % P
    spark.range(0, nChains.toLong * chainLen)
      .where(col("id") % chainLen < chainLen - 1)
      .select(perm(col("id")).as("idA"), perm(col("id") + 1).as("idB"))
      .repartition(spark.sparkContext.defaultParallelism)
  }

  /** The driver gate at its size: 64 chains of 4,096 edges, exactly
    * [[graft.functions.Dedup.DriverEdges]] edges, closed through the
    * public `closePairs` (the driver union-find); the same graph plus one
    * pair, one edge past the gate, closed through the public entry (the
    * gate's collect, then the star loop) and with the gate forced to 0
    * (the star loop alone: the gap is the collect's cost past the gate).
    * Reports each close's min-of-two seconds and rounds, the bytes the
    * calling driver thread allocates for one driver-path close (the
    * collected rows, the union-find and the label relation), and the
    * estimated size of the labels that close leaves in the returned plan.
    * Reported, not bounded. */
  private[graft] def gateProbe(spark: SparkSession)
      : scala.collection.immutable.ListMap[String, Double] = {
    import graft.functions.Dedup
    import spark.implicits._
    val edges = chainGraph(spark, 64, Dedup.DriverEdges / 64 + 1)
    val past = edges.union(Seq((-2L, -1L)).toDF("idA", "idB"))
    val driverSec = time(force(Dedup.closePairs(edges)))._1
    val driverRounds = Dedup.lastClusterRounds
    val gatedSec = time(force(Dedup.closePairs(past)))._1
    val gatedRounds = Dedup.lastClusterRounds
    val starSec = time(force(Dedup.closePairsImpl(past, None, 25, false,
      driverEdges = 0)))._1
    val starRounds = Dedup.lastClusterRounds
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val a0 = threads.getCurrentThreadAllocatedBytes
    val labels = Dedup.closePairs(edges)
    val allocMb = (threads.getCurrentThreadAllocatedBytes - a0) / 1048576.0
    val labelMb = labels.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        org.apache.spark.util.SizeEstimator.estimate(l.data) / 1048576.0
    }.getOrElse(0.0)
    System.err.println(f"[skew] gate_cc ${Dedup.DriverEdges} edges: driver " +
      f"$driverSec%.2f s; one edge past: gated $gatedSec%.2f s " +
      f"($gatedRounds rounds), star alone $starSec%.2f s ($starRounds " +
      f"rounds); driver thread allocated $allocMb%.1f MB, labels " +
      f"$labelMb%.1f MB")
    scala.collection.immutable.ListMap(
      "edges" -> Dedup.DriverEdges.toDouble, "driver_s" -> driverSec,
      "driver_rounds" -> driverRounds.toDouble,
      "past_gate_s" -> gatedSec, "past_gate_rounds" -> gatedRounds.toDouble,
      "star_s" -> starSec, "star_rounds" -> starRounds.toDouble,
      "driver_alloc_mb" -> allocMb, "label_relation_mb" -> labelMb)
  }

  /** Total shuffle bytes written and read by the jobs `body` runs —
    * local mode records shuffle metrics even though no byte crosses a
    * network, which is exactly what lets a local harness measure the
    * payload claim a cluster would feel (PQ codes vs raw vectors through
    * the candidate shuffle). */
  private[graft] def shuffleBytes(spark: SparkSession)(body: => Unit): (Long, Long) = {
    val (_, c) = graft.metrics.SparkCounters.measure(spark)(body)
    (c.shuffleWriteBytes, c.shuffleReadBytes)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val work = if (args.length > 1) args(1) else "/tmp/graft_skew"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // AQE skew thresholds sized to this corpus (the defaults target
      // multi-GB partitions): same knobs a real cluster job would tune
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      .config("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "2m")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.{Dedup, Vectors}

    // untimed warm-up of the shared expression stack (same rationale as
    // graft.Bench): the first family otherwise absorbs codegen + JIT
    try {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .limit(2000).select(col("doc_id"), col("text"))
      docs.select(
          graft.functions.TextFunctions.fingerprintMd5(col("text")),
          Dedup.minhashSignature(col("text"), 5, 64),
          Dedup.simhash64(col("text")),
          Dedup.winnowFingerprints(col("text"), 20, 24))
        .queryExecution.toRdd.count()
      spark.catalog.clearCache()
      System.gc()
    } catch { case e: Throwable => System.err.println(s"[skew] warmup: $e") }

    // ---------------------------------------------------------- generate
    for (m <- Seq(1, 10)) {
      genDocs(spark, sfDir, m, s"$work/docs_x$m")
      genEvents(spark, sfDir, m, s"$work/events_x$m")
      genEmbeddings(spark, sfDir, m, s"$work/emb_x$m")
    }

    // fixed 45-minute intervals tiling the event span + the hot hour
    spark.range(0, 2000)
      .withColumn("iv_id", col("id"))
      .withColumn("start", expr(
        "timestamp '2024-01-15 00:00:00' + make_interval(0,0,0,0,0, id * 30, 0)"))
      .withColumn("end", expr("start + interval 45 minutes"))
      .select("iv_id", "start", "end")
      .write.mode("overwrite").parquet(s"$work/intervals")

    val results = scala.collection.mutable.LinkedHashMap
      .empty[String, scala.collection.mutable.LinkedHashMap[String, Double]]
    def rec(scale: String, name: String, sec: Double): Unit = {
      results.getOrElseUpdate(scale,
        scala.collection.mutable.LinkedHashMap.empty) += (name -> sec)
      System.err.println(f"[skew] $scale%-4s $name%-18s $sec%7.2f s")
    }
    var aqeSkewHit = false
    val capsFired = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val triErrs = scala.collection.mutable.ArrayBuffer.empty[String]
    var embCountX1 = 0L // the 1× corpus size, for the fixed-nlist control
    // ((exactWrite, exactRead), (pqWrite, pqRead)) at x10
    var knnShuffle: Option[((Long, Long), (Long, Long))] = None
    var knnShuffle512: Option[((Long, Long), (Long, Long))] = None

    // ---------------------------------------------------------- run
    for (m <- Seq(1, 10)) {
      val scale = s"x$m"
      val docs = spark.read.parquet(s"$work/docs_x$m")
      val events = spark.read.parquet(s"$work/events_x$m")
      val emb = spark.read.parquet(s"$work/emb_x$m")
      val intervals = spark.read.parquet(s"$work/intervals")

      rec(scale, "exact_dedup",
        time(force(Dedup.exact(docs, "text", "id")))._1)

      Dedup.capStats.clear()
      rec(scale, "minhash_near_dups",
        time(force(Dedup.minhashNearDups(docs, "text", "id",
          shingleK = 5, numHashes = 64, bands = 16, threshold = 0.8)))._1)
      rec(scale, "simhash_near_dups",
        time(force(Dedup.simhashNearDups(docs, "text", "id", maxHamming = 6)))._1)
      // the bounded scale path (Manku 6-choose-3 ~32-bit block keys):
      // random band agreement drops from n²/2¹⁶ to 20·n²/2³², so THIS one
      // carries the ≤ 30× linearity assertion the quarter-band mode can't
      rec(scale, "simhash_bounded",
        time(force(Dedup.simhashNearDupsBounded(docs, "text", "id",
          maxHamming = 3)))._1)
      rec(scale, "winnow_near_dups",
        time(force(Dedup.winnowNearDups(docs, "text", "id",
          shingleK = 20, window = 24, minShared = 3)))._1)
      // STREAMING near-dup matcher over the same corpus (quarter-band
      // state buckets): the 5% clone block lands in ONE bucket per band —
      // 250 members at 1× (under the 500 cap), 2500 at 10× (tripping it),
      // so the cap's drop-entirely rule is what keeps per-bucket work at
      // C(cap,2) instead of C(2500,2). Like quarter-band simhash, the
      // 16-bit keys make this family structurally superlinear — reported,
      // not asserted linear; the cap fire IS asserted.
      rec(scale, "stream_dedup",
        time(force(graft.streaming.StreamingDedup.runFileStream(
          spark, graft.streaming.StreamRun.Written(s"$work/docs_x$m"),
          maxPerBucket = 500, idCol = "id")))._1)
      val sdDrops = graft.streaming.StreamingDedup.lastDropsAcc.value
      System.err.println(s"[skew] $scale stream_dedup drops=$sdDrops")
      if (m == 1 && sdDrops != 0L)
        triErrs += s"stream_dedup bucket cap fired at 1x (drops=$sdDrops)"
      if (m == 10 && sdDrops == 0L)
        triErrs += "stream_dedup bucket cap did NOT fire at 10x"
      rec(scale, "cosine_near_dups",
        time(force(Vectors.cosineNearDups(emb, "id", "embedding",
          numPlanes = 16, threshold = 0.4)))._1)
      // corpus kNN self-join through the DEFAULT path (knnJoinIVFAuto —
      // nlist = round(√n), the operating rule as code since round 10), so
      // the family is structurally n^1.5 (assignment n·nlist FLOPs +
      // candidates n·nprobe·n/nlist) — reported, not linearity-bounded,
      // same honesty rule as simhash's band collisions. The 12.5%
      // hot-direction mass lands in ONE codebook cell (~250 members at
      // 1×, ~2500 at 10×), so the maxCellFreq=1000 cap must fire at 10×
      // and must NOT at 1×.
      rec(scale, "knn_join",
        time(force(Vectors.knnJoinIVFAuto(emb, "id", "embedding",
          k = 5, nprobe = 2, iters = 1, maxCellFreq = 1000)))._1)
      if (m == 1 && Dedup.capStats.contains("knnJoinIVF"))
        triErrs += "knnJoinIVF hot-cell cap fired at 1x (hot cell under the cap)"
      // the PQ/SDC twin at the same (nlist, nprobe): candidates carry m=4
      // codes instead of the 64-float vector, exact math only on the
      // top-20 shortlist per query — the production payload/compute shape
      // this family exists to measure against knn_join's exact-all-
      // candidates cost
      rec(scale, "knn_join_pq",
        time(force(Vectors.knnJoinIVFPQAuto(emb, "id", "embedding",
          k = 5, nprobe = 2, iters = 1,
          m = 4, subDim = 16, codebookK = 16, pqIters = 1, rerank = 20,
          maxCellFreq = 1000)))._1)
      if (m == 1 && Dedup.capStats.contains("knnJoinIVFPQ"))
        triErrs += "knnJoinIVFPQ hot-cell cap fired at 1x (hot cell under the cap)"
      // fuzzy linkage on 40-char prefixes with DEFAULT arguments — now the
      // bounded 2-token blocking key (round-5 finding: a default nobody
      // should run at scale is the wrong default), so this line carries
      // the ≤ 30× linearity assertion. The 5% byte-identical clones share
      // one 2-token block (250 docs at 1× under the cap, 2500 at 10×
      // tripping it), so the cap-fired assertion holds too.
      rec(scale, "fuzzy_link",
        time(force(Dedup.fuzzyLink(
          docs.select(col("id"),
            substring(trim(col("text")), 1, 40).as("nm")),
          "nm", "id", minSim = 0.9)))._1)
      // the coarse 1-token opt-in, reported but NOT bounded: natural
      // first-token blocks grow ~quadratically with corpus size (measured
      // 1.85 s → 89 s in round 5 when this was the default)
      rec(scale, "fuzzy_link_coarse",
        time(force(Dedup.fuzzyLink(
          docs.select(col("id"),
            substring(trim(col("text")), 1, 40).as("nm")),
          "nm", "id", minSim = 0.9, blockTokens = 1)))._1)
      if (m == 10) Dedup.capStats.foreach { case (what, (k, _)) =>
        capsFired += (what -> k)
      }
      if (m == 1) embCountX1 = emb.count()
      // shuffle-payload measurement (round-10 verdict: the "PQ codes are
      // 64× smaller through the candidate shuffle" scale argument was an
      // argument, not a measurement — local mode records shuffle bytes,
      // so measure it): one dedicated run of each twin at 10×
      if (m == 10) {
        spark.catalog.clearCache()
        val (exW, exR) = shuffleBytes(spark)(force(
          Vectors.knnJoinIVFAuto(emb, "id", "embedding",
            k = 5, nprobe = 2, iters = 1, maxCellFreq = 1000)))
        spark.catalog.clearCache()
        val (pqW, pqR) = shuffleBytes(spark)(force(
          Vectors.knnJoinIVFPQAuto(emb, "id", "embedding",
            k = 5, nprobe = 2, iters = 1,
            m = 4, subDim = 16, codebookK = 16, pqIters = 1, rerank = 20,
            maxCellFreq = 1000)))
        knnShuffle = Some(((exW, exR), (pqW, pqR)))
        System.err.println(f"[skew] x10 shuffle bytes knn_join write=$exW " +
          f"read=$exR; knn_join_pq write=$pqW read=$pqR " +
          f"(exact/pq write ratio ${exW.toDouble / math.max(pqW, 1L)}%.2f)")
        // the payload claim is DIM-dependent: at dim 64 a candidate vector
        // is 256 B and PQ's extra stages (codebooks, SDC tables, shortlist
        // rerank) dominate total bytes — tile to dim 512 (position-scaled
        // tiling, the kNN stage split in SURVEY.md; production-embedding
        // regime) and measure the same pair, so the artifact carries the
        // crossover, not a single-point reading
        val emb512 = emb.withColumn("embedding", expr(
          "flatten(transform(sequence(1, 8), t -> " +
            "transform(embedding, x -> cast(x * t / 8 as float))))"))
          .select("id", "embedding")
        spark.catalog.clearCache()
        val (exW5, exR5) = shuffleBytes(spark)(force(
          Vectors.knnJoinIVFAuto(emb512, "id", "embedding",
            k = 5, nprobe = 2, iters = 1, maxCellFreq = 1000)))
        spark.catalog.clearCache()
        val (pqW5, pqR5) = shuffleBytes(spark)(force(
          Vectors.knnJoinIVFPQAuto(emb512, "id", "embedding",
            k = 5, nprobe = 2, iters = 1,
            m = 4, subDim = 128, codebookK = 16, pqIters = 1, rerank = 20,
            maxCellFreq = 1000)))
        knnShuffle512 = Some(((exW5, exR5), (pqW5, pqR5)))
        System.err.println(f"[skew] x10 dim512 shuffle bytes knn_join " +
          f"write=$exW5 read=$exR5; knn_join_pq write=$pqW5 read=$pqR5 " +
          f"(exact/pq write ratio ${exW5.toDouble / math.max(pqW5, 1L)}%.2f)")
      }
      // fixed-resolution CONTROL: the same 10× corpus at the 1× auto
      // nlist — candidate volume ~n²·nprobe/nlist, the quadratic regime
      // the √n rule exists to avoid; reported (raw + its own ratio key)
      // so the fixed-vs-scaled gap is in the artifact, not just the
      // docstring. Runs UNCAPPED: with the cap, the average fixed-nlist
      // cell exceeds maxCellFreq=1000 at 10× and is dropped ENTIRELY, so
      // the capped number would look fast by silently collapsing recall —
      // the uncapped time is the honest cost
      if (m == 10)
        rec(scale, "knn_join_fixed_nlist",
          time(force(Vectors.knnJoinIVF(emb, "id", "embedding",
            k = 5, nlist = Vectors.nlistForCorpus(embCountX1), nprobe = 2,
            iters = 1)))._1)
      spark.catalog.clearCache()

      // as-of: purchase labels get latest click value; entity 77 carries
      // 30% of the whole corpus as its history
      val labels = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts").as("lts"), col("value").as("lval"))
      val clicks = events.filter(col("event_type") === "click")
      def asof(st: graft.ops.AsOfStrategy) = graft.ops.AsOfJoin.trainingSet(
        labels, Map("entity" -> "user_id"), "lval", Some("lts"),
        Seq(graft.ops.FeatureSide(clicks, "user_id", "value", Some("ts"), "f_click")),
        st)
      rec(scale, "asof_sortmerge", time(force(asof(graft.ops.SortMergeAsOf)))._1)
      rec(scale, "asof_unionwindow", time(force(asof(graft.ops.UnionWindow)))._1)

      // trailing-window aggregate on the SAME hot history: entity 77's
      // labels and clicks share one hour, so the bucket join would
      // materialize |labels77| x |clicks77| pairs — the prefix-sum path
      // must stay sort-bounded (this is exactly the case it exists for)
      rec(scale, "pit_window_prefix",
        time(force(graft.ops.PitWindowAgg.trailingAggPrefix(
          labels, clicks, "user_id", "lts", "ts", "value", 3600L)))._1)

      // bucketized range join; at 10× the hot hour must trip AQE skew split
      val rj = graft.ops.RangeJoin.pointsInIntervals(
        events.select("id", "ts"), "ts", intervals, "start", "end",
        bucketMicros = 30L * 60 * 1000000)
      rec(scale, "range_join", time(force(rj))._1)
      if (m == 10)
        aqeSkewHit = rj.queryExecution.executedPlan.toString
          .toLowerCase.contains("skew")

      // salted join of the skewed fact against a small dim
      val dim = events.select("user_id").distinct()
        .withColumn("segment", pmod(col("user_id"), lit(7)))
      rec(scale, "salted_join",
        time(force(graft.ops.Skew.saltedJoin(events, dim, "user_id", 16)
          .groupBy("segment").count()))._1)

      // Adamic-Adar on the user/value-bucket co-event graph: every value
      // bucket touches most users, so buckets are super-hubs (deg ≈
      // corpus users) — maxDeg drops them as wedge centers, leaving the
      // Σ deg² wedge mass bounded by the capped user degrees (≤ ~20
      // buckets each), linear in users instead of quadratic in the hub
      rec(scale, "link_prediction",
        time(force(graft.functions.Graph.linkPrediction(
          events.select(col("user_id").as("a"),
            (floor(col("value") / 25).cast("long") + 1000000L).as("b")),
          "a", "b", k = 50, maxDeg = 40)))._1)

      // triangle counting on the same co-event graph; the 500k-edge cap
      // puts the 1× corpus (100k raw edges) in the broadcast regime and
      // the 10× corpus (1M) in the unhinted regime — asserting the
      // measure-then-pick gate actually flips the closing-join plan and
      // wall-clock stays near-linear in the shuffled regime
      // the frame is constructed INSIDE the timed body (a hoisted
      // DataFrame's second run would reuse the first run's shuffle files
      // and min-of-two would measure only the final stage)
      def triangles() = graft.functions.Graph.triangleCounts(
        events.select(col("user_id").as("a"),
          (floor(col("value") / 25).cast("long") + 1000000L).as("b")),
        "a", "b", maxBroadcastEdges = 500000L)
      rec(scale, "triangle_count", time(force(triangles()))._1)
      val triHinted = triangles().queryExecution.optimizedPlan.toString
        .toLowerCase.contains("broadcast")
      if (m == 1 && !triHinted)
        triErrs += "triangle closing join NOT broadcast-hinted at 1x (under cap)"
      if (m == 10 && triHinted)
        triErrs += "triangle closing join broadcast-hinted at 10x (over cap)"

      // behavioral family on the same hot entity: the funnel holds ONE
      // timestamp per (user, step) — user 77's 30% share must cost only
      // its own partial aggregates; markov/scd2 pay one keyed window sort
      // of the hot history (the per-entity bound, same as asof_unionwindow)
      rec(scale, "event_funnel",
        time(force(graft.ops.EventFunnel.funnel(events, "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"), 86400)))._1)
      rec(scale, "markov_transitions",
        time(force(graft.ops.Markov.transitions(events, "user_id", "ts",
          "id", "event_type")))._1)
      rec(scale, "scd2_build",
        time(force(graft.ops.Scd2.build(events, "user_id",
          Seq("event_type"), "ts", "id")))._1)
      rec(scale, "retention",
        time(force(graft.ops.Cohorts.retention(events, "user_id", "ts",
          bucket = "day")))._1)

      // round-5 families on the same hot entity: nearest join pays one
      // per-entity window sort (UnionWindow bound); interval coverage two
      // window scans — user 77's one-hour 30% share collapses to a few
      // islands but must sort only its own rows; the sequential folds
      // (EWMA + CUSUM) pay one repartition + the hot key's own chain
      val pur = events.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("id"), col("value"))
      rec(scale, "nearest_join",
        time(force(graft.ops.NearestJoin.nearest(pur,
          clicks.select(col("user_id"), col("ts"), col("value")),
          "user_id", "ts", "id", "value", "value")))._1)
      rec(scale, "interval_coverage",
        time(force(graft.ops.Intervals.coverage(
          events.select(col("user_id"),
            unix_millis(col("ts")).as("s_ms"),
            (unix_millis(col("ts")) +
              floor(col("value") * 60000).cast("long")).as("e_ms")),
          "user_id", "s_ms", "e_ms")))._1)
      rec(scale, "ewma_cusum", {
        val t1 = time(force(graft.ops.Smooth.ewma(
          events, "user_id", "ts", "id", "value")))._1
        val t2 = time(force(graft.ops.Smooth.cusum(
          events, "user_id", "ts", "id", "value", 250.0, 25.0, 500.0)))._1
        t1 + t2
      })
      spark.catalog.clearCache()
      System.gc()
    }

    // ------------------------------------------------- chain-graph closure
    // Adversarial high-diameter family: 20 chains of 200·m nodes
    // (chainGraph): the per-partition union-find merges next to nothing and
    // Dedup.closePairs' star contraction must close each chain, in
    // O(log diameter) rounds where min-label propagation would pay
    // ~diameter rounds (measured on local[4]: 9 rounds at x1, 12 at x10;
    // without the spread each chain closes inside its partition in 1).
    // The chains (4,000 and 40,000 edges) fit under the driver gate, so
    // the gate is forced to 0 to measure the star loop; gateProbe then
    // closes a graph of the gate's own size both ways.
    val chainRounds = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    for (m <- Seq(1, 10)) {
      val scale = s"x$m"
      rec(scale, "chain_cc", time(force(Dedup.closePairsImpl(
        chainGraph(spark, 20, 200 * m), None, 25, false,
        driverEdges = 0)))._1)
      chainRounds += (scale -> Dedup.lastClusterRounds)
      spark.catalog.clearCache()
    }
    val gate = gateProbe(spark)
    spark.catalog.clearCache()

    // --------------------------------------- bounded-simhash 30× envelope
    // Measured candidate pairs vs the 20·n²/2³² random block-key-agreement
    // model at 1×/10×/30× — where does the curve sit against the analytic
    // term (true near-dup structure rides on top of it)?
    genDocs(spark, sfDir, 30, s"$work/docs_x30")
    // (n, candidates 6/3, random-model 6/3, candidates 7/4, random-model 7/4)
    val simProbe = scala.collection.mutable.LinkedHashMap
      .empty[String, (Long, Long, Double, Long, Double)]
    var simhashX30 = 0.0
    for (m <- Seq(1, 10, 30)) {
      val d = spark.read.parquet(s"$work/docs_x$m")
      val n = d.count()
      val cand = Dedup.simhashBoundedCandidateCount(d, "text", "id",
        maxHamming = 3)
      val model = 20.0 * n.toDouble * n.toDouble / math.pow(2.0, 32)
      // the escalation point: 7 blocks choose 4 keeps the same Hamming-3
      // recall guarantee (7−4 ≥ 3) with ~37-bit keys — 35·n²/2³⁷ random
      // mass, ~4.4× below 6/3's, at 35 vs 20 rows/doc through the shuffle.
      // This is the documented knob to turn when the 6/3 candidate curve
      // crosses the budget at a bigger corpus.
      val cand74 = Dedup.simhashBoundedCandidateCount(d, "text", "id",
        maxHamming = 3, numBlocks = 7, comboSize = 4)
      val model74 = 35.0 * n.toDouble * n.toDouble / math.pow(2.0, 37)
      simProbe += (s"x$m" -> ((n, cand, model, cand74, model74)))
      System.err.println(
        f"[skew] simhash_bounded x$m: n=$n cand63=$cand model=$model%.1f " +
          f"cand74=$cand74 model74=$model74%.1f")
      if (m == 30)
        simhashX30 = time(force(Dedup.simhashNearDupsBounded(
          d, "text", "id", maxHamming = 3)))._1
      spark.catalog.clearCache()
    }

    // ------------------------------------------------- kNN 30× envelope
    // r9 left knn_join's scaled-nlist x10 ratio at 16.2× against a ~12×
    // target — above the reading but well under the n^1.5 model (31.6×).
    // Extend to x30 at the DEFAULT auto nlist to pin the growth exponent:
    // n^1.2 predicts ~59×, n^1.5 predicts ~164×. The hot direction is
    // 12.5% of 30n in one cell (~7500 members), so the cap must fire.
    genEmbeddings(spark, sfDir, 30, s"$work/emb_x30")
    val embX30 = spark.read.parquet(s"$work/emb_x30")
    Dedup.capStats.clear()
    val knnX30 = time(force(Vectors.knnJoinIVFAuto(embX30, "id", "embedding",
      k = 5, nprobe = 2, iters = 1, maxCellFreq = 1000)))._1
    val knnX30Cap = Dedup.capStats.contains("knnJoinIVF")
    spark.catalog.clearCache()
    val knnPqX30 = time(force(Vectors.knnJoinIVFPQAuto(embX30, "id",
      "embedding", k = 5, nprobe = 2, iters = 1, m = 4, subDim = 16,
      codebookK = 16, pqIters = 1, rerank = 20, maxCellFreq = 1000)))._1
    val knnPqX30Cap = Dedup.capStats.contains("knnJoinIVFPQ")
    val knnX30Ratio = knnX30 / math.max(results("x1")("knn_join"), 1e-9)
    val knnPqX30Ratio = knnPqX30 / math.max(results("x1")("knn_join_pq"), 1e-9)
    // fitted exponent over the x30 leg: ratio = 30^e → e = ln r / ln 30
    val knnX30Exp = math.log(math.max(knnX30Ratio, 1.0)) / math.log(30.0)
    System.err.println(f"[skew] knn_join x30: $knnX30%.2f s " +
      f"ratio=$knnX30Ratio%.1f exp=$knnX30Exp%.2f pq=$knnPqX30%.2f s " +
      f"pq_ratio=$knnPqX30Ratio%.1f caps=$knnX30Cap/$knnPqX30Cap")
    spark.catalog.clearCache()

    // ---------------------------------------------------------- assert
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    errs ++= triErrs
    for (what <- Seq("minhashNearDups", "simhashNearDups",
        "simhashNearDupsBounded", "winnowNearDups",
        "cosineNearDups", "fuzzyLink", "knnJoinIVF", "knnJoinIVFPQ"))
      if (!capsFired.contains(what))
        errs += s"hot-key cap did NOT fire for $what at 10x"
    if (!aqeSkewHit)
      errs += "AQE skew-join split did NOT activate on the 10x range join"
    // kNN x30 envelope: caps must fire on the 7500-member hot cell, and
    // the exact family must stay at-or-under the sub-n^1.35 regime
    // (30^1.35 ≈ 98; the n^1.5 quadratic-candidate model predicts 164) —
    // failing this means the √n rule stopped holding the family and the
    // coarse-quantizer tree step is due
    if (!knnX30Cap) errs += "knnJoinIVF hot-cell cap did NOT fire at 30x"
    if (!knnPqX30Cap) errs += "knnJoinIVFPQ hot-cell cap did NOT fire at 30x"
    if (knnX30Ratio > 98.0)
      errs += f"knn_join x30/x1 = $knnX30Ratio%.1f (> 98, past the n^1.35 envelope)"
    // chain closure: must CONVERGE in O(log diameter) star-contraction
    // rounds (log2(2000) ≈ 11; ≤ 14 leaves the two-alternation constant)
    for ((s, rounds) <- chainRounds if rounds > 14)
      errs += s"chain closure took $rounds rounds at $s (> 14)"
    if (gate("driver_rounds") != 0 || gate("past_gate_rounds") == 0)
      errs += s"closePairs' driver gate did not split at ${gate("edges")} " +
        "edges (the driver takes them, one more runs the star loop)"
    val linearFamilies = Seq("exact_dedup", "minhash_near_dups",
      "simhash_bounded", "fuzzy_link",
      "winnow_near_dups", "asof_sortmerge",
      "asof_unionwindow", "pit_window_prefix", "range_join", "salted_join",
      "link_prediction", "triangle_count",
      "event_funnel", "markov_transitions", "scd2_build", "retention",
      "nearest_join", "interval_coverage", "ewma_cusum", "chain_cc")
    // ratios are REPORTED for every family (round-8 finding: omitting the
    // worst ratios from the derived dict while they sit in the raw
    // sections reads as cherry-picking); the ≤ 30× linearity ASSERTION
    // still applies only to the linear-by-design families — the
    // structurally superlinear ones (quarter-band simhash, coarse fuzzy,
    // hyperplane cosine, the n^1.5 kNN self-joins, stream_dedup) are
    // documented as such above.
    val allRatios = results("x1").keys.toSeq.map { f =>
      f -> results("x10")(f) / math.max(results("x1")(f), 1e-9)
    }
    val ratios = allRatios.filter(r => linearFamilies.contains(r._1))
    ratios.foreach { case (f, r) =>
      if (r > 30.0) errs += f"$f scaled superlinearly: x10/x1 = $r%.1f (> 30)"
    }
    val cosRatio = results("x10")("cosine_near_dups") /
      math.max(results("x1")("cosine_near_dups"), 1e-9)
    val simhashRatio = results("x10")("simhash_near_dups") /
      math.max(results("x1")("simhash_near_dups"), 1e-9)
    val fuzzyCoarseRatio = results("x10")("fuzzy_link_coarse") /
      math.max(results("x1")("fuzzy_link_coarse"), 1e-9)
    // fixed-nlist 10× vs scaled-nlist 10×: the measured cost of ignoring
    // the √n operating rule on the same corpus
    val knnFixedOverScaled = results("x10")("knn_join_fixed_nlist") /
      math.max(results("x10")("knn_join"), 1e-9)

    def jm(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"skew_harness","x1":${jm(results("x1"))},""" +
        s""""x10":${jm(results("x10"))},""" +
        s""""ratio_x10_over_x1":${jm(
          scala.collection.immutable.ListMap(allRatios: _*))},""" +
        s""""ratio_asserted_families":${linearFamilies
          .map(f => s""""$f"""").mkString("[", ",", "]")},""" +
        f""""cosine_ratio_reported":$cosRatio%.1f,""" +
        f""""simhash_quarterband_ratio_reported":$simhashRatio%.1f,""" +
        f""""fuzzy_link_coarse_ratio_reported":$fuzzyCoarseRatio%.1f,""" +
        f""""knn_join_fixed_over_scaled_nlist_x10":$knnFixedOverScaled%.2f,""" +
        s""""caps_fired_at_x10":${
          capsFired.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
        },""" +
        s""""chain_rounds":${chainRounds.map { case (k, v) =>
          s""""$k":$v""" }.mkString("{", ",", "}")},""" +
        s""""gate_cc":${jm(gate)},""" +
        s""""simhash_bounded_envelope":${simProbe.map {
          case (k, (n, cand, model, cand74, model74)) =>
            f""""$k":{"n_docs":$n,"candidates_6_3":$cand,""" +
              f""""model_random_6_3":$model%.1f,""" +
              f""""candidates_7_4":$cand74,"model_random_7_4":$model74%.1f}"""
        }.mkString("{", ",", "}")},""" +
        f""""simhash_bounded_x30_sec":$simhashX30%.3f,""" +
        f""""knn_join_x30_sec":$knnX30%.3f,""" +
        f""""knn_join_x30_over_x1":$knnX30Ratio%.2f,""" +
        f""""knn_join_x30_exponent":$knnX30Exp%.3f,""" +
        f""""knn_join_pq_x30_sec":$knnPqX30%.3f,""" +
        f""""knn_join_pq_x30_over_x1":$knnPqX30Ratio%.2f,""" +
        knnShuffle.map { case ((exW, exR), (pqW, pqR)) =>
          s""""knn_shuffle_bytes_x10":{"exact_write":$exW,"exact_read":$exR,""" +
            s""""pq_write":$pqW,"pq_read":$pqR,""" +
            f""""exact_over_pq_write":${exW.toDouble / math.max(pqW, 1L)}%.2f,""" +
            f""""exact_over_pq_read":${exR.toDouble / math.max(pqR, 1L)}%.2f},"""
        }.getOrElse("") +
        knnShuffle512.map { case ((exW, exR), (pqW, pqR)) =>
          s""""knn_shuffle_bytes_x10_dim512":{"exact_write":$exW,"exact_read":$exR,""" +
            s""""pq_write":$pqW,"pq_read":$pqR,""" +
            f""""exact_over_pq_write":${exW.toDouble / math.max(pqW, 1L)}%.2f,""" +
            f""""exact_over_pq_read":${exR.toDouble / math.max(pqR, 1L)}%.2f},"""
        }.getOrElse("") +
        s""""knn_x30_caps_fired":{"knnJoinIVF":$knnX30Cap,"knnJoinIVFPQ":$knnPqX30Cap},""" +
        s""""aqe_skew_split_range_join":$aqeSkewHit,""" +
        s""""asof_sortmerge_vs_window_x10":${
          f"${results("x10")("asof_unionwindow") / results("x10")("asof_sortmerge")}%.2f"
        },""" +
        s""""assertions_failed":${errs.map(e => s""""$e"""").mkString("[", ",", "]")}}"""
    println(json)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"BENCH_skew_c$cpus.json"), json + "\n")
    spark.stop()
    if (errs.nonEmpty) {
      errs.foreach(e => System.err.println(s"[skew] ASSERTION FAILED: $e"))
      sys.exit(1)
    }
  }
}
