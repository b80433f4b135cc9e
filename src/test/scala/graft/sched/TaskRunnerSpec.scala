package graft.sched

import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec

class TaskRunnerSpec extends SparkSpec {

  private def freshDir() =
    graft.TempDirs.create("graft_sched").toString

  test("retry with recorded attempts, then success") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 3, backoffMs = 1)
    val calls = new AtomicInteger(0)
    val (rec, out) = runner.run("mat", "v1") {
      if (calls.incrementAndGet() < 3) sys.error("flaky")
      42
    }
    assert(out.contains(42) && rec.status == "success" && rec.attempt == 3)
    val runs = runner.runs().filter(r => r.task == "mat" && r.runKey == "v1")
    assert(runs.map(_.status) == Seq("failed", "failed", "success"))
  }

  test("resume skips a completed (task, runKey); failures exhaust attempts") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    assert(runner.run("t", "k") { 1 }._1.status == "success")
    // same key: skipped without executing the body
    val calls = new AtomicInteger(0)
    val (rec, out) = runner.run("t", "k") { calls.incrementAndGet() }
    assert(rec.status == "skipped" && out.isEmpty && calls.get() == 0)
    // records survive a "restart" (fresh runner over the same state dir)
    val runner2 = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    assert(runner2.succeeded("t", "k"))
    val (fr, fo) = runner2.run("always_fails", "k") { sys.error("nope") }
    assert(fr.status == "failed" && fr.attempt == 2 && fo.isEmpty)
  }

  test("ledger shape is deterministic: never a duplicate success row") {
    // the driver's task_runs fixture, repeated — guards the 7-vs-6 regression
    // (CORRECTNESS_r04: a resumed run recorded an extra success)
    for (_ <- 1 to 25) {
      val runner = new TaskRunner(spark, freshDir(), maxAttempts = 3, backoffMs = 1)
      val calls = new AtomicInteger(0)
      runner.run("materialize", "v1") {
        if (calls.incrementAndGet() < 3) sys.error("flaky"); 1L
      }
      runner.run("materialize", "v1") { 0L } // resumed → skipped, not recorded
      runner.run("doomed", "v1") { sys.error("always") }
      val rows = runner.runs().map(r => (r.task, r.attempt, r.status))
      assert(rows == Seq(
        ("materialize", 1, "failed"), ("materialize", 2, "failed"),
        ("materialize", 3, "success"),
        ("doomed", 1, "failed"), ("doomed", 2, "failed"), ("doomed", 3, "failed")))
    }
  }

  test("maxJobDuration cancels the job group and records timeout") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 1,
      maxJobDuration = java.time.Duration.ofMillis(800))
    val (rec, out) = runner.run("slow", "k") {
      // a genuinely long Spark job (driver-side sleep per partition)
      spark.range(0, 64, 1, 8).rdd.foreach(_ => Thread.sleep(2000))
    }
    assert(rec.status == "timeout" && out.isEmpty)
  }

  test("dag: topo order is deterministic; failure cascades; resume " +
    "re-runs only the incomplete tail") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    var cleanTries = 0
    def tasks(cleanFails: Boolean): Map[String, () => Any] = Map(
      "ingest" -> (() => 1L),
      "clean" -> (() => {
        cleanTries += 1
        if (cleanFails) sys.error("boom") else 2L
      }),
      "features" -> (() => 3L),
      "train" -> (() => 4L))
    val deps = Map("clean" -> Seq("ingest"), "features" -> Seq("ingest"),
      "train" -> Seq("clean", "features"))
    assert(Dag.topoOrder(tasks(true).keys.toSeq.sorted, deps) ===
      Seq("ingest", "clean", "features", "train"))
    val r1 = Dag.run(runner, "k", tasks(cleanFails = true), deps)
    assert(r1.map(r => r.task -> r.status) === Seq(
      "ingest" -> "success", "clean" -> "failed",
      "features" -> "success", "train" -> "upstream_failed"))
    assert(cleanTries === 2) // both attempts burned
    // resume: ingest/features skip (already succeeded), clean now passes,
    // train finally runs
    val r2 = Dag.run(runner, "k", tasks(cleanFails = false), deps)
    assert(r2.map(r => r.task -> r.status) === Seq(
      "ingest" -> "skipped", "clean" -> "success",
      "features" -> "skipped", "train" -> "success"))
  }

  test("dag: cycles and unknown dependencies are rejected") {
    intercept[RuntimeException] {
      Dag.topoOrder(Seq("a", "b"), Map("a" -> Seq("b"), "b" -> Seq("a")))
    }
    intercept[IllegalArgumentException] {
      Dag.topoOrder(Seq("a"), Map("a" -> Seq("ghost")))
    }
  }

  test("torn ledger tail (writer crashed mid-append) is dropped; earlier " +
       "corruption fails loudly; appends continue past a torn tail") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, backoffMs = 1)
    runner.run("a", "k1") { 1 }
    runner.run("b", "k1") { 2 }
    // simulate a crash mid-append: half a JSON object at EOF
    val ledger = java.nio.file.Paths.get(dir, "task_runs.jsonl")
    java.nio.file.Files.write(ledger,
      """{"task":"c","runKey":"k1","att""".getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.APPEND)
    val runner2 = new TaskRunner(spark, dir, backoffMs = 1)
    // the torn record is lost exactly like a crash before the write
    assert(runner2.runs().map(_.task) == Seq("a", "b"))
    assert(!runner2.succeeded("c", "k1"))
    // the next append HEALS the tail (truncates the fragment) rather than
    // fusing with it — the re-run of c must land as a clean, readable row
    runner2.run("c", "k1") { 3 }
    val after = new TaskRunner(spark, dir, backoffMs = 1).runs()
    assert(after.exists(r => r.task == "c" && r.status == "success"))
    // corruption NOT at the tail is a real error, never silently dropped
    val lines = new String(java.nio.file.Files.readAllBytes(ledger), "UTF-8")
    java.nio.file.Files.write(ledger,
      ("{broken}\n" + lines).getBytes("UTF-8"))
    intercept[Exception] { new TaskRunner(spark, dir, backoffMs = 1).runs() }
  }

  test("attempt numbering seeds past service-plane rows: an outcome after " +
       "a wire re-queue is never buried under the higher-attempt pending") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, maxAttempts = 3, backoffMs = 1)
    val now = System.currentTimeMillis()
    // the wire trail: SetRunStatus(RUNNING) minted running@1, the daemon
    // crashed, SyncUnfinishedRuns re-queued pending@2 — a success recorded
    // at attempt 1 would be permanently buried by the max-attempt index
    runner.record(TaskRun("mat", "k", 1, "running", now, 0L, None))
    runner.record(TaskRun("mat", "k", 2, "pending", now, 0L, None))
    val (rec, out) = runner.run("mat", "k") { 7 }
    assert(out.contains(7) && rec.status == "success" && rec.attempt == 3)
    assert(runner.latestRun("mat", "k").get.status == "success")
    // a RESTARTED runner still sees the success: resume, not re-execution
    val runner2 = new TaskRunner(spark, dir, maxAttempts = 3, backoffMs = 1)
    assert(runner2.succeeded("mat", "k"))
    val calls = new AtomicInteger(0)
    assert(runner2.run("mat", "k") { calls.incrementAndGet() }._1.status == "skipped")
    assert(calls.get() == 0)
    // failures climb above the seeded base too, and cascade-skip
    // bookkeeping ties the latest attempt instead of sinking to 0
    runner.record(TaskRun("bad", "k", 4, "pending", now, 0L, None))
    val (fr, _) = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
      .run("bad", "k") { sys.error("doomed") }
    assert(fr.status == "failed" && fr.attempt == 6)
    assert(runner.latestRun("bad", "k").get.status == "failed")
    runner.record(TaskRun("down", "k", 3, "pending", now, 0L, None))
    assert(runner.recordUpstreamFailed("down", "k", Seq("bad")).attempt == 3)
    assert(runner.latestRun("down", "k").get.status == "upstream_failed")
  }

  test("interrupting a waiting runner (daemon shutdown) re-queues the run " +
       "as pending: no retry, no duplicate body, a later runner resumes it") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, maxAttempts = 3, backoffMs = 1)
    val bodies = new AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(1)
    val gate = new java.util.concurrent.CountDownLatch(1)
    @volatile var rec: TaskRun = null
    val worker = new Thread(() => {
      rec = runner.run("long", "k") {
        bodies.incrementAndGet(); started.countDown()
        gate.await() // interruptible: only the shutdown interrupt ends this
        1
      }._1
    })
    worker.start()
    assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
    worker.interrupt() // what pool.shutdownNow does to a draining worker
    worker.join(15000)
    assert(!worker.isAlive)
    assert(rec.status == "pending" && rec.attempt == 1,
      s"interrupted run must re-queue, got ${rec.status}@${rec.attempt}")
    assert(bodies.get() == 1, "no duplicate body thread after interrupt")
    assert(runner.latestRun("long", "k").get.status == "pending")
    // `pending` is Runnable: the next daemon picks it up and completes it
    val (fin, out) = runner.run("long", "k") { bodies.incrementAndGet(); 5 }
    assert(fin.status == "success" && fin.attempt == 2 && out.contains(5))
    assert(bodies.get() == 2)
  }

  test("an interrupt during the retry backoff also re-queues: the " +
       "terminal failed row is tied over by pending, never stranded") {
    val dir = freshDir()
    // long backoff so the interrupt reliably lands inside the sleep
    val runner = new TaskRunner(spark, dir, maxAttempts = 3, backoffMs = 60000)
    val failed = new java.util.concurrent.CountDownLatch(1)
    @volatile var rec: TaskRun = null
    val worker = new Thread(() => {
      rec = runner.run("flaky", "k") { failed.countDown(); sys.error("x") }._1
    })
    worker.start()
    assert(failed.await(10, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(500) // let the failed@1 append land and the backoff start
    worker.interrupt()
    worker.join(15000)
    assert(!worker.isAlive)
    assert(rec.status == "pending" && rec.attempt == 1)
    // the tie rule surfaces the re-queue over the failed row it shares
    // an attempt with — the run is resumable, not stranded
    assert(runner.latestRun("flaky", "k").get.status == "pending")
    val (fin, _) = new TaskRunner(spark, dir, maxAttempts = 3, backoffMs = 1)
      .run("flaky", "k") { 1 }
    assert(fin.status == "success" && fin.attempt == 2)
  }

  test("recordUpstreamFailed never buries a completed run: a succeeded " +
       "(task, runKey) is reported skipped and the ledger is untouched") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 2, backoffMs = 1)
    runner.run("done", "k") { 1 }
    val before = runner.runs()
    val rec = runner.recordUpstreamFailed("done", "k", Seq("bad_upstream"))
    assert(rec.status == "skipped")
    assert(runner.runs() == before, "no ledger row for a cascade-skip of completed work")
    assert(runner.succeeded("done", "k"))
    assert(runner.latestRun("done", "k").get.status == "success")
  }

  test("syncUnfinishedRuns re-queues orphaned running rows under the run " +
       "claim lock; live claims and terminal rows are untouched") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    val now = System.currentTimeMillis()
    runner.record(TaskRun("orphan", "k1", 0, "running", now, 0L, None))
    runner.run("done", "k2") { 1 } // terminal — not an orphan
    val gate = new java.util.concurrent.CountDownLatch(1)
    val started = new java.util.concurrent.CountDownLatch(1)
    runner.record(TaskRun("live", "k3", 0, "running", now, 0L, None))
    val holder = new Thread(() =>
      runner.run("live", "k3") { started.countDown(); gate.await(); 1 })
    holder.start()
    assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
    assert(runner.syncUnfinishedRuns() == 1, "exactly the orphan re-queues")
    assert(runner.latestRun("orphan", "k1").get.status == "pending")
    assert(runner.latestRun("done", "k2").get.status == "success")
    assert(runner.latestRun("live", "k3").get.status == "running")
    gate.countDown(); holder.join(10000)
    assert(runner.latestRun("live", "k3").get.status == "success")
    // idempotent: the re-queued row is pending now, not running
    assert(runner.syncUnfinishedRuns() == 0)
  }

  test("run-log sidecar lines are durable beside their ledger rows: a " +
       "fresh runner over the same stateDir reads back provenance") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, backoffMs = 1)
    runner.record(TaskRun("sched_task", "t1", 0, "created",
      System.currentTimeMillis(), 0L, None))
    runner.addRunLog("sched_task", "t1", "__cron__:* * * * *")
    runner.addRunLog("sched_task", "t1", "__scheduler__:sched-9")
    // restart: both the fsynced ledger row and its fsynced sidecar lines
    // survive together (a run row without its provenance would be
    // reported ON_APPLY with no scheduler id)
    val runner2 = new TaskRunner(spark, dir, backoffMs = 1)
    assert(runner2.latestRun("sched_task", "t1").get.status == "created")
    assert(runner2.runLogs("sched_task", "t1") ==
      Seq("__cron__:* * * * *", "__scheduler__:sched-9"))
  }

  test("compactLedger collapses attempt history to current state: reads, " +
       "resume, logs, and a restarted runner agree before and after") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, maxAttempts = 3, backoffMs = 1)
    val calls = new AtomicInteger(0)
    runner.run("flaky", "k1") {
      if (calls.incrementAndGet() < 3) sys.error("x"); 1
    }
    runner.run("doomed", "k1") { sys.error("always") }
    runner.record(TaskRun("orphan", "k2", 0, "running", 0L, 0L, None))
    runner.addRunLog("flaky", "k1", "__scheduler__:s1")
    val before = runner.latestRuns()
    assert(runner.runs().size == 7) // 3 flaky + 3 doomed + 1 orphan
    val dropped = runner.compactLedger()
    assert(dropped == 4, s"2 flaky + 2 doomed attempt rows drop, got $dropped")
    assert(runner.latestRuns() == before, "current state is unchanged")
    assert(runner.runs().size == 3, "one record per run survives")
    assert(runner.compactLedger() == 0, "idempotent")
    // a RESTARTED runner over the compacted ledger agrees on everything
    val r2 = new TaskRunner(spark, dir, maxAttempts = 3, backoffMs = 1)
    assert(r2.succeeded("flaky", "k1"))
    assert(r2.run("flaky", "k1") { 9 }._1.status == "skipped")
    assert(r2.latestRun("doomed", "k1").get.status == "failed")
    assert(r2.latestRun("orphan", "k2").get.status == "running")
    assert(r2.runLogs("flaky", "k1") == Seq("__scheduler__:s1"),
      "run-log sidecars survive compaction")
    // the orphan is still reconcilable, and appends continue normally
    assert(r2.syncUnfinishedRuns() == 1)
    r2.run("fresh", "k3") { 2 }
    assert(r2.latestRun("fresh", "k3").get.status == "success")
  }

  test("a body exception whose MESSAGE matches a runner control word is " +
       "a plain terminal failure — causes are typed, not string-matched") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 1, backoffMs = 1)
    // the old string sentinels: "__interrupted__" would have re-queued
    // this as `pending` (an endless fail/re-queue loop on a live daemon),
    // "timeout"/"interrupted" would have misclassified the status
    for ((key, msg) <- Seq("k1" -> "__interrupted__", "k2" -> "timeout",
                           "k3" -> "interrupted")) {
      val (rec, _) = runner.run("collide", key) {
        throw new RuntimeException(msg)
      }
      assert(rec.status == "failed" && rec.error.contains(msg),
        s"message '$msg' must record failed, got ${rec.status}")
    }
  }

  test("recordUpstreamFailed never buries a FRESH running report; a " +
       "stale one ties the attempt") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 2, backoffMs = 1)
    val now = System.currentTimeMillis()
    // a live claimless external executor just reported RUNNING
    runner.record(TaskRun("t", "k", 2, "running", now, 0L, None))
    val r = runner.recordUpstreamFailed("t", "k", Seq("up"))
    assert(r.status == "running", "cascade must defer to the live run")
    assert(runner.latestRun("t", "k").get.status == "running")
    assert(runner.runs().count(x => x.task == "t") == 1, "nothing appended")
    // a STALE running row (past the grace window) is an orphan — the
    // cascade mark ties its attempt so the index surfaces it
    runner.record(TaskRun("t2", "k", 2, "running", now - 600000L, 0L, None))
    val r2 = runner.recordUpstreamFailed("t2", "k", Seq("up"))
    assert(r2.status == "upstream_failed" && r2.attempt == 2)
    assert(runner.latestRun("t2", "k").get.status == "upstream_failed")
  }

  test("schedule due-time evaluation") {
    val s = Schedule(everyMs = 1000, offsetMs = 500)
    assert(s.lastDue(400).isEmpty)
    assert(s.lastDue(500).contains(500L) && s.lastDue(1499).contains(500L))
    assert(s.lastDue(2600).contains(2500L))
    assert(s.isDue(1600, None))
    assert(s.isDue(1600, Some(500L)))      // new tick at 1500
    assert(!s.isDue(1600, Some(1500L)))    // already ran this tick
  }
}
