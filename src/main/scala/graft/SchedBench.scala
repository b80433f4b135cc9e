package graft

import org.apache.spark.sql.SparkSession

/** Scheduler-plane envelope — quantifies the two round-12 scale claims
  * instead of asserting them:
  *
  *  1. LEDGER APPEND COST IS FLAT (the O(1) java.io append rework): time
  *     append batches at a growing ledger (2k → 20k records) and report
  *     appends/sec per decade — the old read+rewrite slowed linearly with
  *     ledger size (O(n²) total), so a flat curve IS the fix's evidence.
  *  2. DAEMON DRAIN THROUGHPUT: N wire-shape `created` runs executed by
  *     the polling daemon (claim + RUNNING marker + attempt record +
  *     scheduler-id log per run) — the registration→execution pipeline's
  *     runs/sec, and the latest-run index read rate underneath it.
  *
  * Round-13 legs, quantifying that round's two serving-path claims:
  *
  *  3. /lineage IS LEDGER-SIZE INDEPENDENT: the dashboard route now
  *     serves run states off the latest-run index; on a ledger with 20k
  *     attempt records but 50 live runs the old code re-read + JSON-parsed
  *     all 20k lines PER HTTP HIT — the reported requests/sec at that
  *     shape is the evidence the parse is gone.
  *  4. WATCHERS DON'T STARVE APPENDS: 24 concurrent WatchForCancel-shaped
  *     pollers (cached index read + change-monitor wait, the RPC's loop
  *     body) run against a live append stream; the append rate with
  *     watchers active vs alone measures the contention the old
  *     take-the-ledger-file-lock-every-50ms poll imposed.
  *
  * Round-14 leg:
  *
  *  5. RESTART-RESUME LATENCY: a crashed daemon's fresh `running` row
  *     (attempt-0 marker + claim-time owner tag) is resumed by a restarted
  *     daemon under the SAME id on its first tick (the own-id bypass),
  *     while a FOREIGN daemon leaves it for the orphanAfterMs gate — the
  *     measured ms from start() to success is the recovery-latency claim,
  *     vs the 300 s default the r13 age gate imposed.
  *
  * One JSON line → BENCH_sched_c<cpus>.json in the working directory. */
object SchedBench {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.sched._

    // ---- 1. append-cost curve: appends/sec per 2k batch as the ledger
    //      grows to 20k records (old rewrite: each decade ~linearly slower)
    val dir1 = graft.TempDirs.create("graft_schedbench").toString
    val runner1 = new TaskRunner(spark, dir1, backoffMs = 1)
    val batch = 2000
    val decades = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var total = 0
    for (d <- 1 to 10) {
      val t0 = System.nanoTime()
      var i = 0
      while (i < batch) {
        runner1.record(TaskRun("append_probe", s"k$total", 1, "success",
          0L, 0L, None))
        total += 1; i += 1
      }
      val sec = (System.nanoTime() - t0) / 1e9
      decades += (s"at_${(d - 1) * batch}" -> batch / sec)
    }
    val rates = decades.values.toSeq
    val flatness = rates.last / rates.head // ~1.0 = flat; old code: ~1/10
    // index read rate at the 20k ledger (the Tasks service's per-RPC cost)
    val tIdx = System.nanoTime()
    var reads = 0
    while (reads < 2000) { runner1.latestRun("append_probe", "k1"); reads += 1 }
    val idxReadsPerSec = 2000 / ((System.nanoTime() - tIdx) / 1e9)

    // ---- 2. daemon drain: N created runs → all success via the poll loop
    val dir2 = graft.TempDirs.create("graft_schedbench2").toString
    val runner2 = new TaskRunner(spark, dir2, backoffMs = 1)
    val n = 500
    (0 until n).foreach(i => runner2.record(
      TaskRun("drain", s"r$i", 0, "created", System.currentTimeMillis(), 0L, None)))
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val daemon = new Scheduler(runner2, "bench",
      t => if (t == "drain") Some(() => done.incrementAndGet()) else None,
      pollIntervalMs = 10L, maxConcurrent = 8).start()
    val t1 = System.nanoTime()
    val deadline = System.currentTimeMillis() + 300000L
    while (done.get() < n && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    daemon.stop()
    val drainSec = (System.nanoTime() - t1) / 1e9
    require(done.get() == n, s"daemon drained ${done.get()} of $n")
    val finals = runner2.latestRuns().filter(_.task == "drain")
    require(finals.size == n && finals.forall(_.status == "success"),
      "every drained run must read back success")

    // ---- 3. /lineage off the latest-run index: 20k-record ledger, 50
    //      live runs (400 attempt rows per run — the always-on daemon's
    //      shape); the old route re-parsed all 20k lines per HTTP hit
    val dir3 = graft.TempDirs.create("graft_schedbench3").toString
    val runner3 = new sched.TaskRunner(spark, dir3, backoffMs = 1)
    for (r <- 0 until 50; a <- 1 to 400)
      runner3.record(TaskRun("deep", s"r$r", a,
        if (a == 400) "success" else "failed", 0L, 0L, None))
    val cat = new graft.catalog.Catalog(spark)
    val srv = new graft.serving.ServingServer(
      new graft.serving.OnlineStore(new graft.serving.InProcessKv),
      catalog = Some(cat), tasks = Some(runner3)).start()
    val lineageHits = 200
    val url = new java.net.URI(
      s"http://127.0.0.1:${srv.boundPort}/lineage").toURL
    def hit(): Int = {
      val c = url.openConnection().asInstanceOf[java.net.HttpURLConnection]
      val body = new String(c.getInputStream.readAllBytes(), "UTF-8")
      c.disconnect(); body.length
    }
    hit() // warm
    val tLin = System.nanoTime()
    var h = 0
    while (h < lineageHits) { hit(); h += 1 }
    val lineagePerSec = lineageHits / ((System.nanoTime() - tLin) / 1e9)
    srv.stop()

    // ---- 3b. ledger compaction on the same 20k-attempt / 50-run shape:
    //      full reads (restart index builds, runs() exports) are
    //      O(records); compaction collapses to current state per run
    def timeMs(body: => Unit): Double = {
      val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6
    }
    val readBeforeMs = timeMs(runner3.runs())
    var droppedN = 0
    val compactMs = timeMs { droppedN = runner3.compactLedger() }
    val readAfterMs = timeMs(runner3.runs())

    // ---- 4. watcher contention: 24 WatchForCancel-shaped pollers
    //      (latestRunCached + awaitChange — the RPC loop body) against a
    //      live append stream; compare appends/sec alone vs under watch
    val dir4 = graft.TempDirs.create("graft_schedbench4").toString
    val runner4 = new sched.TaskRunner(spark, dir4, backoffMs = 1)
    runner4.record(TaskRun("watched", "w1", 0, "running", 0L, 0L, None))
    def appendBurst(tag: String, count: Int): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < count) {
        runner4.record(TaskRun("noise", s"$tag$i", 1, "success", 0L, 0L, None))
        i += 1
      }
      count / ((System.nanoTime() - t0) / 1e9)
    }
    val aloneRate = appendBurst("a", 2000)
    @volatile var watching = true
    val watchers = (1 to 24).map { _ =>
      val t = new Thread(() => {
        while (watching) {
          val cur = runner4.latestRunCached("watched", "w1")
          if (!cur.exists(_.status == "running")) ()
          runner4.awaitChange(50)
        }
      })
      t.setDaemon(true); t.start(); t
    }
    Thread.sleep(100) // watchers spinning
    val underWatchRate = appendBurst("b", 2000)
    watching = false
    watchers.foreach(_.join(2000))

    // ---- 5. restart-resume latency (the own-id bypass): the crash
    //      artifact a SIGKILL'd daemon leaves — fresh running@0 + its
    //      claim-time owner tag — resumed by a restarted same-id daemon
    val dir5 = graft.TempDirs.create("graft_schedbench5").toString
    val runner5 = new sched.TaskRunner(spark, dir5, backoffMs = 1)
    runner5.record(TaskRun("resume_me", "k", 0, "running",
      System.currentTimeMillis(), 0L, None))
    runner5.addRunLog("resume_me", "k", Scheduler.OwnerPrefix + "bench-resume")
    // a FOREIGN daemon must not touch the fresh row (age gate): give it a
    // head start and assert zero executions
    val foreignRan = new java.util.concurrent.atomic.AtomicInteger(0)
    val foreign = new Scheduler(runner5, "bench-foreign",
      t => if (t == "resume_me") Some(() => foreignRan.incrementAndGet())
           else None, pollIntervalMs = 10L).start()
    Thread.sleep(300)
    foreign.stop()
    require(foreignRan.get() == 0,
      "foreign daemon must not claim a fresh external-lookalike running row")
    val resumeRan = new java.util.concurrent.atomic.AtomicInteger(0)
    val tRes = System.nanoTime()
    val restarted = new Scheduler(runner5, "bench-resume",
      t => if (t == "resume_me") Some(() => resumeRan.incrementAndGet())
           else None, pollIntervalMs = 10L).start()
    val resDeadline = System.currentTimeMillis() + 60000L
    while (!runner5.latestRun("resume_me", "k").exists(_.status == "success") &&
           System.currentTimeMillis() < resDeadline) Thread.sleep(5)
    val resumeMs = (System.nanoTime() - tRes) / 1e6
    restarted.stop()
    require(resumeRan.get() == 1 &&
      runner5.latestRun("resume_me", "k").exists(_.status == "success"),
      "restarted same-id daemon must resume its own row exactly once")

    val decJson = decades.map { case (k, v) => s""""$k":${f"$v%.0f"}""" }
      .mkString("{", ",", "}")
    val json =
      s"""{"metric":"scheduler_envelope","ledger_records":$total,""" +
        s""""append_rate_per_sec":$decJson,""" +
        f""""append_flatness_last_over_first":$flatness%.2f,""" +
        f""""index_reads_per_sec":$idxReadsPerSec%.0f,""" +
        s""""daemon_drain":{"runs":$n,"sec":${f"$drainSec%.2f"},""" +
        f""""runs_per_sec":${n / drainSec}%.1f},""" +
        s""""lineage":{"ledger_records":20000,"live_runs":50,""" +
        f""""requests_per_sec":$lineagePerSec%.0f},""" +
        s""""compaction":{"records_before":20000,"dropped":$droppedN,""" +
        f""""compact_ms":$compactMs%.1f,""" +
        f""""full_read_ms_before":$readBeforeMs%.1f,""" +
        f""""full_read_ms_after":$readAfterMs%.1f},""" +
        s""""watch_contention":{"watchers":24,""" +
        f""""appends_per_sec_alone":$aloneRate%.0f,""" +
        f""""appends_per_sec_under_watch":$underWatchRate%.0f,""" +
        f""""under_watch_over_alone":${underWatchRate / aloneRate}%.2f},""" +
        s""""restart_resume":{"foreign_claims_fresh_row":${foreignRan.get()},""" +
        f""""own_id_resume_ms":$resumeMs%.0f,""" +
        s""""r13_age_gate_ms":300000}}"""
    println(json)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"BENCH_sched_c$cpus.json"),
      (json + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
