package graft
import org.apache.spark.sql.SparkSession
import graft.metrics.SparkCounters

/** Benchmark main (driver contract): runs every SparkEntry query on
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Each query is forced via `queryExecution.toRdd.count()` — a plain
  * `df.count()` would let Catalyst prune every computed column (a
  * projection-only query would time nothing but row counting). A trivial
  * warm-up action runs first so the first query doesn't absorb JVM/codegen
  * startup.
  *
  * Timing is MIN-OF-N per query (N = SPARK_GRAFT_BENCH_REPS, default 2,
  * the SkewBench convention): the round-5 artifacts showed the same 186
  * queries measuring 177 s in a short run and 251 s in a long one — a
  * uniform ~1.4× inflation tracking suite length in one JVM (GC/codegen-
  * cache churn), which fabricated an across-the-board "regression" when
  * artifacts of different lengths were compared. The minimum approximates
  * the uncontended steady-state time — the plan-shaped number
  * round-over-round comparisons are about.
  *
  * Reps run as N FULL INTERLEAVED PASSES over the whole query list (pass
  * 1 of every query, then pass 2, min per query across passes) — NOT
  * back-to-back per query. Back-to-back reps share one time window, so a
  * multi-minute co-tenant pressure window on the box inflated BOTH
  * samples of every alphabetically-adjacent query and min-of-2 kept the
  * inflated number (rounds 11-12: contiguous 5-9.5× stream-family and
  * pq-family blocks that never reproduced in isolation).
  * Interleaved passes are minutes apart per query, so a pressure window
  * can contaminate at most one sample. The JSON carries
  * `"timing":"min_of_N_interleaved"` so readers know the methodology.
  *
  * A query that throws in any pass is listed under `"failed"` in both
  * JSON lines, left out of `queries`, `counters`, `total` and the anchor
  * check, and the bench exits 1 after the compact line prints.
  *
  * Every run is measured with [[graft.metrics.SparkCounters.measure]]; the
  * full map carries, per query, the Spark counters of the pass whose time
  * it keeps (jobs, stages, tasks, task and GC ms, shuffle, spill, input,
  * job wall, skew). Job, stage and task counts are fixed by the plan, so
  * they explain a wall-time move that noise cannot fake.
  *
  * `Bench q1,q2,...` runs only the named queries, with the same session,
  * warm-up, passes and counters: the tool for re-timing a query in a fresh
  * session and for finding the job or stage a query spends its time in.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000000).selectExpr("sum(id)").collect() // JVM warm-up
    // Warm the expression stack the queries share (text stats, BPE, sketch
    // hashes, vector math) with one untimed pass over a corpus sample:
    // whichever query ran first otherwise absorbed ~10 s of codegen + JIT
    // for these classes inside its own timer (measured: corpus_clean 12 s
    // cold vs 1.5 s steady-state at sf0.1). Steady-state per-query numbers
    // are the honest figure for a long-lived engine.
    try {
      import org.apache.spark.sql.functions._
      val TF = graft.functions.TextFunctions
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        .limit(5000).select(col("doc_id"), col("text"))
      val HE = graft.functions.expressions.HashExprs
      docs.select(
          TF.qualityScore(col("text")), TF.langId(col("text")),
          TF.bpeTokenCount(col("text")), TF.fingerprintMd5(col("text")),
          graft.functions.Dedup.minhashSignature(col("text"), 5, 64),
          graft.functions.Dedup.simhash64(col("text")),
          graft.functions.Dedup.winnowFingerprints(col("text")),
          // round-14 verify-path expressions (dedup_pr_eval's factored
          // gram sets) — same warm-the-expression-stack rationale
          HE.sortedLongsJaccard(HE.kgramSet(col("text"), 5),
            HE.kgramSet(substring(col("text"), 2, 1000000), 5)))
        .queryExecution.toRdd.count()
      // the BPE train/encode path JITs a different expression stack than
      // bpeTokenCount (generated merge replays); warm it too, or
      // bpe_encode absorbs ~7 s of codegen in its own timer (measured
      // 10.1 s cold vs 3.1 s steady-state at sf0.1)
      val mini = docs.limit(300)
      val merges = graft.functions.BpeTrain.train(mini, "text", 2)
        .orderBy("merge_rank").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.BpeTrain.encodeDigest(mini, "doc_id", "text", merges)
        .queryExecution.toRdd.count()
      spark.catalog.clearCache()
      System.gc()
    } catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }

    // optional arg: comma-separated subset of query names (iteration aid;
    // the driver always runs the full map)
    val subset = args.headOption.map(_.split(",").toSet)
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt.max(1)
    // Queries that persist intermediates (Dedup.barrier, Split) or leave
    // memory-sink tables behind would otherwise accumulate across the run:
    // by query ~40 the unified memory region is full of dead cache blocks
    // and later timings absorb eviction + GC churn (measured 2× inflation
    // on ann_topk_ivf in a 61-query run vs isolated). Dropping state after
    // the timer keeps every measurement a cold-cache, interference-free
    // number — the honest per-query figure. System.gc() pays the previous
    // run's GC debt outside the next run's timer (media/regex/codegen churn
    // otherwise lands in whichever query runs next — the PIT family
    // measured 3× its isolated time mid-run).
    def cleanup(): Unit = {
      spark.catalog.clearCache()
      spark.catalog.listTables().collect()
        .filter(t => t.isTemporary)
        .foreach(t => spark.catalog.dropTempView(t.name))
      System.gc()
    }
    val named = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => subset.forall(_.contains(n)) }
      .map { case (n, fn) =>
        n -> (() => { fn(spark, sfDir).queryExecution.toRdd.count(); () }) }
    val (results, failed) = timePasses(named, reps, () => cleanup())(
      run => SparkCounters.measure(spark)(run())._2)
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val countersJson = results
      .map { case (k, _, c) => "\"" + k + "\":" + c.toJson }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // STRUCTURAL drift triage: every bench artifact carries its own
    // breach list against the committed per-query anchors
    // (BENCH_ANCHORS.md), so the triage input can never be a superseded
    // artifact — two rounds running, drift was adjudicated against a
    // mid-round bench while the refreshed final's breaches went
    // untriaged. Standing rule (BENCH_ANCHORS.md): a reading is a breach
    // only when it exceeds anchor x 1.5 AND exceeds it by > 1 s; a
    // breach means "re-time it with `Bench <query>` in a fresh session
    // before calling drift", not "regression".
    val anchors = readAnchors(
      sys.env.getOrElse("SPARK_GRAFT_ANCHORS", "BENCH_ANCHORS.md"))
    val breaches = results.flatMap { case (name, v, _) =>
      anchors.get(name).collect {
        case a if v > a * 1.5 && v > a + 1.0 => name -> (v, a)
      }
    }
    val breachJson = breaches
      .map { case (k, (v, a)) => "\"" + k + "\":{\"sec\":" + f"$v%.3f" +
        ",\"anchor\":" + f"$a%.3f" + "}" }
      .mkString("{", ",", "}")
    val full = s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""timing":"min_of_${reps}_interleaved","queries":$qs,""" +
      s""""counters":$countersJson,""" +
      s""""failed":$failedJson,"anchor_breaches":$breachJson,""" +
      s""""anchors_checked":${anchors.size},"sf":"$sfDir"}"""
    println(full)
    // The full line above runs ~8 KB at 244 queries, but the driver keeps
    // only the LAST ~2000 chars of output — every BENCH_rN.json through r7
    // recorded "parsed": null because the line was truncated mid-JSON. So:
    // (a) persist the full JSON to a file named in the compact line, and
    // (b) end stdout with a SHORT self-contained JSON line (same
    // metric/value contract, top-12 slowest queries only) that fits any
    // tail buffer. A reader that takes the last JSON-ish line gets a
    // parseable record; one that reads full stdout still sees the
    // complete map first.
    // Persist the full map to a file the round artifacts can reference:
    // the env-pointed path, by default in the working directory (not /tmp,
    // which is session-scoped) under a name that carries the cpu count and
    // marks a filtered run, so a c8 run cannot replace the c32 map and a
    // subset run cannot replace a full one.
    val fullPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      defaultFullPath(cpus, subset.isDefined))
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(fullPath), full + "\n")
    catch { case e: Throwable => System.err.println(s"[bench] write: $e") }
    val top = results.sortBy(-_._2).take(12)
      .map { case (k, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    // Stop Spark BEFORE the final line so no late executor/log output can
    // land after it: the compact JSON is the last thing this JVM prints.
    // (build.sbt routes forked run output straight to stdout — no sbt
    // "[info] " prefix — so this line is bare, self-contained JSON sized
    // for the driver's ~2 KB tail buffer.)
    spark.stop()
    println(s"""{"metric":"total","value":$total,"unit":"sec",""" +
      s""""timing":"min_of_${reps}_interleaved","n_queries":${results.size},""" +
      s""""queries":$top,"queries_truncated_to_top":12,""" +
      s""""failed":$failedJson,"anchor_breaches":$breachJson,""" +
      s""""full_json":"$fullPath","sf":"$sfDir"}""")
    if (failed.nonEmpty) sys.exit(1)
  }

  /** Default file of the full map: `BENCH_full_c<cpus>.json`, with a
    * `_subset` suffix when a query filter is given. */
  private[graft] def defaultFullPath(cpus: String, filtered: Boolean): String =
    s"BENCH_full_c$cpus${if (filtered) "_subset" else ""}.json"

  /** Runs `reps` full interleaved passes over `queries` (pass 1 of every
    * query, then pass 2, ...), calling `cleanup` after each run. Each run
    * goes through `measure`, which returns its counters; the timer sits
    * inside it, around the run alone. Returns, for the queries that never
    * threw, the minimum seconds and the counters of that pass, and the
    * names of those that threw in any pass: a crash ends a query's run
    * early, so its elapsed time is not a timing and must not enter the
    * total or the anchor check as a fast query, and its counters are
    * dropped with it. */
  private[graft] def timePasses[C](queries: Seq[(String, () => Unit)],
                                   reps: Int, cleanup: () => Unit)
                                  (measure: (() => Unit) => C)
      : (Seq[(String, Double, C)], Seq[String]) = {
    val runs = scala.collection.mutable.Map.empty[String, List[(Double, C)]]
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    for (pass <- 1 to reps; (name, run) <- queries) {
      try {
        var dt = 0.0
        val c = measure { () =>
          val t0 = System.nanoTime()
          run()
          dt = (System.nanoTime() - t0) / 1e9
        }
        runs(name) = runs.getOrElse(name, Nil) :+ (dt -> c)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name (pass $pass): $e")
        failed += name
      }
      cleanup()
    }
    val ok = queries.collect { case (n, _) if !failed(n) =>
      val (sec, c) = runs(n).minBy(_._1)
      (n, sec, c)
    }
    (ok, queries.map(_._1).filter(failed))
  }

  /** Per-query anchor seconds from BENCH_ANCHORS.md's `| query | anchor |`
    * table rows. Missing/unreadable file → empty (no breach check) — the
    * bench must run anywhere, anchors are a repo-local artifact. */
  private[graft] def readAnchors(path: String): Map[String, Double] =
    try {
      val Row = """\|\s*([a-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|.*""".r
      // explicit UTF-8: the doc carries ×/— prose and the JVM default
      // charset here is ASCII — Source.fromFile would throw and silently
      // disable the breach check
      new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
        .linesIterator
        // per-row tolerance: one malformed cell (e.g. "4.98.") must skip
        // that ROW, not silently discard every anchor and turn the
        // structural breach check into a no-op
        .collect { case Row(q, s) => s.toDoubleOption.map(q -> _) }
        .flatten
        .toMap
    } catch { case _: Throwable => Map.empty }
}
