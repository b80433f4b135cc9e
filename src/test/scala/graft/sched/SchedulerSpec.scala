package graft.sched

import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.SparkSpec

/** The always-on coordinator daemon (reference coordinator/scheduler.go:
  * 60-91 + executor.go:42-117): wire-created ledger runs EXECUTE, racing
  * daemons execute exactly once, cancellation kills mid-run, unbound tasks
  * are left for the daemon that has the binding. */
class SchedulerSpec extends SparkSpec {

  private def freshDir() =
    graft.TempDirs.create("graft_schedd").toString

  private def createdRun(runner: TaskRunner, task: String, key: String): Unit =
    runner.record(TaskRun(task, key, 0, "created",
      System.currentTimeMillis(), 0L, None))

  test("a created ledger run executes on tick: created → running → success, " +
       "scheduler id stamped") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    val calls = new AtomicInteger(0)
    val sched = new Scheduler(runner, "sched-a",
      name => if (name == "mat_clicks") Some(() => calls.incrementAndGet()) else None)
    createdRun(runner, "mat_clicks", "2024-03-01")
    val out = sched.tick()
    assert(out.map(r => (r.task, r.status)) == Seq(("mat_clicks", "success")))
    assert(calls.get() == 1)
    // current state is success; the ledger trace shows the full lifecycle
    assert(runner.latestRun("mat_clicks", "2024-03-01").get.status == "success")
    val trace = runner.runs().filter(_.runKey == "2024-03-01").map(_.status)
    assert(trace == Seq("created", "running", "success"))
    assert(runner.runLogs("mat_clicks", "2024-03-01")
      .contains(Scheduler.LogPrefix + "sched-a"))
    // a second tick re-executes nothing (resume semantics)
    assert(sched.tick().isEmpty && calls.get() == 1)
  }

  test("a failing body exhausts attempts and leaves the run failed — " +
       "the daemon does not hot-loop it") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 2, backoffMs = 1)
    val calls = new AtomicInteger(0)
    val sched = new Scheduler(runner, "s",
      _ => Some(() => { calls.incrementAndGet(); sys.error("doomed") }))
    createdRun(runner, "bad", "k")
    val out = sched.tick()
    assert(out.head.status == "failed" && calls.get() == 2)
    // failed is terminal for the poll loop: next tick touches nothing
    assert(sched.tick().isEmpty && calls.get() == 2)
  }

  test("two racing daemons over one ledger execute each run exactly once") {
    val dir = freshDir()
    val r1 = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    val r2 = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    val calls = new AtomicInteger(0)
    val body = () => { Thread.sleep(50); calls.incrementAndGet() }
    val s1 = new Scheduler(r1, "s1", _ => Some(body))
    val s2 = new Scheduler(r2, "s2", _ => Some(body))
    (1 to 4).foreach(i => createdRun(r1, "task", s"run-$i"))
    val t1 = new Thread(() => s1.tick())
    val t2 = new Thread(() => s2.tick())
    t1.start(); t2.start(); t1.join(); t2.join()
    // stragglers (claims lost to the other daemon mid-tick) settle next tick
    s1.tick(); s2.tick()
    if (calls.get() != 4)
      info("LEDGER: " + r1.runs().map(r =>
        s"${r.runKey}/${r.attempt}/${r.status}").mkString(" | "))
    assert(calls.get() == 4)
    val finals = r1.latestRuns().filter(_.task == "task")
    assert(finals.size == 4 && finals.forall(_.status == "success"))
    // exactly one success row per run in the durable ledger
    val successes = r1.runs().filter(_.status == "success")
      .groupBy(_.runKey).view.mapValues(_.size).toMap
    assert(successes.values.forall(_ == 1) && successes.size == 4)
  }

  test("cancellation mid-run kills the Spark job group, records cancelled, " +
       "and never retries") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 3, backoffMs = 1)
    val started = new java.util.concurrent.CountDownLatch(1)
    val completed = new AtomicInteger(0)
    val sched = new Scheduler(runner, "s", _ => Some(() => {
      started.countDown()
      // a real Spark job: every partition sleeps, so only a job-group
      // cancel (not loop completion) can end it promptly
      spark.range(0, 4, 1, 4).foreach(_ => Thread.sleep(30000))
      completed.incrementAndGet()
    }))
    createdRun(runner, "long", "k")
    val t = new Thread(() => sched.tick())
    t.start()
    assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
    Thread.sleep(300) // let the Spark job actually launch
    runner.cancel("long", "k") // the wire SetRunStatus(CANCELLED) path
    t.join(30000)
    assert(!t.isAlive, "tick should return promptly after cancel")
    assert(completed.get() == 0)
    val rec = runner.latestRun("long", "k").get
    assert(rec.status == "cancelled")
    assert(rec.attempt == 1, "a cancelled run must not retry")
    // the latch holds: the daemon will not restart a cancelled run
    assert(sched.tick().isEmpty)
  }

  test("a task with no body bound here is left untouched; a stale running " +
       "row from a crashed daemon is re-claimed and finished") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    val sched = new Scheduler(runner, "s",
      name => if (name == "mine") Some(() => 1) else None)
    createdRun(runner, "someone_elses", "k1")
    // crash artifact: a running row whose claim nobody holds — backdated
    // past the orphan age gate (a FRESH running row could be a live
    // wire-external executor's report, which direct claims must skip)
    runner.record(TaskRun("mine", "k2", 0, "running",
      System.currentTimeMillis() - 3600000L, 0L, None))
    runner.record(TaskRun("mine", "k3", 0, "running",
      System.currentTimeMillis(), 0L, None)) // fresh = possibly live
    val out = sched.tick()
    assert(out.map(r => (r.task, r.status)) == Seq(("mine", "success")))
    assert(runner.latestRun("someone_elses", "k1").get.status == "created")
    assert(runner.latestRun("mine", "k3").get.status == "running",
      "a fresh RUNNING row (possibly a live external executor) is not re-claimed")
  }

  test("dependency wait: downstream executes only after its upstream " +
       "succeeds (same runKey); a failed upstream cancels the downstream " +
       "as upstream_failed") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 1, backoffMs = 1)
    val order = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val sched = new Scheduler(runner, "s", {
      case "a_up"   => Some(() => order.add("a_up"))
      case "b_down" => Some(() => order.add("b_down"))
      case "doomed" => Some(() => sys.error("boom"))
      case "after_doomed" => Some(() => order.add("after_doomed"))
      case _ => None
    }, deps = {
      case "b_down" => Seq("a_up")
      case "after_doomed" => Seq("doomed")
      case _ => Nil
    })
    // downstream created FIRST: it must wait, not execute out of order
    createdRun(runner, "b_down", "k")
    val t1 = sched.tick()
    assert(t1.isEmpty && order.isEmpty, "downstream must wait for its upstream")
    assert(runner.latestRun("b_down", "k").get.status == "created")
    createdRun(runner, "a_up", "k")
    sched.tick() // a_up executes; b_down becomes ready (same or next tick)
    sched.tick()
    assert(order.asScala.toSeq == Seq("a_up", "b_down"))
    assert(runner.latestRun("b_down", "k").get.status == "success")
    // failed upstream → downstream recorded upstream_failed, body never ran
    createdRun(runner, "doomed", "k2")
    createdRun(runner, "after_doomed", "k2")
    sched.tick(); sched.tick()
    val down = runner.latestRun("after_doomed", "k2").get
    assert(down.status == "upstream_failed")
    assert(down.error.exists(_.contains("doomed")))
    assert(!order.asScala.toSeq.contains("after_doomed"))
    // terminal: later ticks leave it alone
    assert(sched.tick().isEmpty)
  }

  test("cron schedules mint due runs that execute exactly once per tick; " +
       "a malformed expression is skipped, not fatal") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 2, backoffMs = 1)
    val calls = new AtomicInteger(0)
    val sched = new Scheduler(runner, "s",
      name => if (name == "refresh") Some(() => calls.incrementAndGet()) else None,
      schedules = () => Seq("refresh" -> "* * * * *", "broken" -> "not a cron"))
    val minuteBefore = System.currentTimeMillis() / 60000L
    val out = sched.tick()
    assert(out.map(r => (r.task, r.status)) == Seq(("refresh", "success")))
    assert(calls.get() == 1)
    // the minted key is the grid-aligned due instant
    val run = runner.latestRuns().find(_.task == "refresh").get
    assert(run.runKey == java.time.Instant
      .ofEpochMilli(minuteBefore * 60000L).toString ||
      run.runKey == java.time.Instant
        .ofEpochMilli((minuteBefore + 1) * 60000L).toString)
    // trigger provenance rides the run-log sidecar (the Tasks service
    // reports these runs as ScheduleTrigger / TriggerType SCHEDULE)
    assert(runner.runLogs("refresh", run.runKey)
      .contains(Scheduler.CronLogPrefix + "* * * * *"))
    // same tick: nothing new to mint or run
    sched.tick()
    val minuteAfter = System.currentTimeMillis() / 60000L
    if (minuteAfter == minuteBefore) assert(calls.get() == 1)
    else assert(calls.get() <= 2) // the minute rolled mid-test: one more tick
    // the malformed schedule minted nothing and broke nothing
    assert(runner.latestRuns().forall(_.task != "broken"))
  }

  test("catalogSchedules extracts wire-registered schedule strings by " +
       "resource-name task convention") {
    val cat = new graft.catalog.Catalog(spark)
    cat.setProperties(
      graft.catalog.ResourceKey("SOURCE", "orders.v1"),
      Map("__schedule" -> "*/5 * * * *"))
    cat.setProperties(
      graft.catalog.ResourceKey("FEATURE", "f_rev.v1"),
      Map("schedule" -> "0 * * * *"))
    cat.setProperties(
      graft.catalog.ResourceKey("LABEL", "lbl.v1"),
      Map("__schedule" -> "")) // empty = no schedule
    assert(Scheduler.catalogSchedules(cat).toSet ==
      Set("orders" -> "*/5 * * * *", "f_rev" -> "0 * * * *"))
    // ONE schedule per task name: when several variants of a resource
    // carry schedules, the greatest (kind, id) wins deterministically —
    // a RequestScheduleChange on a newer variant supersedes the old one
    cat.setProperties(
      graft.catalog.ResourceKey("SOURCE", "orders.v2"),
      Map("__schedule" -> "30 * * * *"))
    val byTask = Scheduler.catalogSchedules(cat).toMap
    assert(byTask("orders") == "30 * * * *",
      "the lexicographically-greatest variant's schedule must win")
    assert(Scheduler.catalogSchedules(cat).count(_._1 == "orders") == 1)
  }

  test("graceful stop() drains: an in-flight run finishes inside the " +
       "drain window and lands success — never a failed/abandoned row") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 3, backoffMs = 1)
    val bodies = new AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(1)
    val sched = new Scheduler(runner, "s", _ => Some(() => {
      bodies.incrementAndGet(); started.countDown()
      Thread.sleep(400) // finishes well inside the 30 s default drain
      1
    }), pollIntervalMs = 10L).start()
    createdRun(runner, "drainme", "k")
    assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
    sched.stop() // must WAIT for the run, not interrupt it
    assert(runner.latestRun("drainme", "k").get.status == "success")
    assert(bodies.get() == 1)
  }

  test("stop() past the drain window interrupts the run, re-queues it as " +
       "pending with exactly one body ever live, and a restarted daemon " +
       "completes it — clean shutdown is never worse than a crash") {
    val dir = freshDir()
    val r1 = new TaskRunner(spark, dir, maxAttempts = 3, backoffMs = 1)
    val live = new AtomicInteger(0)
    val maxLive = new AtomicInteger(0)
    val started = new java.util.concurrent.CountDownLatch(1)
    val block = new java.util.concurrent.CountDownLatch(1)
    val body: () => Any = () => {
      val n = live.incrementAndGet()
      maxLive.accumulateAndGet(n, math.max)
      try { started.countDown(); block.await(); 1 } // only interrupt ends this
      finally live.decrementAndGet()
    }
    val s1 = new Scheduler(r1, "s1", _ => Some(body),
      pollIntervalMs = 10L, stopDrainMs = 100L).start()
    createdRun(r1, "long", "k")
    assert(started.await(10, java.util.concurrent.TimeUnit.SECONDS))
    s1.stop() // drain expires → interrupt → re-queue, no retry
    val rec = r1.latestRun("long", "k").get
    assert(rec.status == "pending",
      s"interrupted run must re-queue as pending, got ${rec.status}")
    assert(maxLive.get() == 1, "a stop must never spawn a duplicate body")
    assert(r1.runs().forall(_.status != "failed"),
      "a clean shutdown must not record terminal failed")
    // a restarted daemon resumes the re-queued run to completion
    block.countDown()
    val r2 = new TaskRunner(spark, dir, maxAttempts = 3, backoffMs = 1)
    val s2 = new Scheduler(r2, "s2", _ => Some(body), pollIntervalMs = 10L).start()
    try {
      val deadline = System.currentTimeMillis() + 15000
      while (!r2.latestRun("long", "k").exists(_.status == "success") &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(r2.latestRun("long", "k").get.status == "success")
      assert(maxLive.get() == 1)
    } finally s2.stop()
  }

  test("the daemon reconciles orphans itself on the sync interval: a " +
       "crashed coordinator's running row re-queues as pending with no " +
       "client RPC, even when no body is bound here") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 2, backoffMs = 1)
    // crash artifact owned by a daemon that had the (unbound-here)
    // binding — backdated past the orphan threshold (a FRESH running row
    // could be a live wire-external executor's report, which the
    // automatic sync must never sweep)
    runner.record(TaskRun("foreign", "k", 0, "running",
      System.currentTimeMillis() - 3600000L, 0L, None))
    runner.record(TaskRun("live_external", "k", 0, "running",
      System.currentTimeMillis(), 0L, None))
    val sched = new Scheduler(runner, "survivor", _ => None,
      pollIntervalMs = 10L, syncIntervalMs = 1L).start()
    try {
      val deadline = System.currentTimeMillis() + 10000
      while (!runner.latestRun("foreign", "k").exists(_.status == "pending") &&
             System.currentTimeMillis() < deadline) Thread.sleep(20)
      val rec = runner.latestRun("foreign", "k").get
      assert(rec.status == "pending" && rec.error.exists(_.contains("re-queued")))
      // the fresh RUNNING row (a live external executor) was NOT swept
      assert(runner.latestRun("live_external", "k").get.status == "running")
    } finally sched.stop()
  }

  test("a restarted daemon resumes its OWN fresh running row immediately " +
       "(own-id bypass); a foreign daemon still waits the age gate") {
    val dir = freshDir()
    // a SIGKILL'd predecessor of daemon s1: running marker at attempt 0
    // (fresh startMs — inside the orphanAfterMs window) plus the
    // claim-time owner tag execute() stamps
    val setup = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    setup.record(TaskRun("mat", "k", 0, "running",
      System.currentTimeMillis(), 0L, None))
    setup.addRunLog("mat", "k", Scheduler.OwnerPrefix + "s1")
    val calls = new AtomicInteger(0)
    val body = () => calls.incrementAndGet()
    // a FOREIGN daemon must not claim the fresh row — for all it knows
    // the row belongs to a live claimless external executor
    val s2 = new Scheduler(new TaskRunner(spark, dir, maxAttempts = 2,
      backoffMs = 1), "s2", _ => Some(body))
    assert(s2.tick().isEmpty && calls.get() == 0)
    // the restarted s1 recognizes its own marker and resumes on the
    // first tick — no 5-minute external-executor wait
    val s1 = new Scheduler(new TaskRunner(spark, dir, maxAttempts = 2,
      backoffMs = 1), "s1", _ => Some(body))
    val out = s1.tick()
    assert(out.map(_.status) == Seq("success") && calls.get() == 1)
  }

  test("a fresh wire RUNNING report (attempt >= 1) is never fast-resumed, " +
       "even when a stale owner tag matches — external executors own it") {
    val dir = freshDir()
    val runner = new TaskRunner(spark, dir, maxAttempts = 2, backoffMs = 1)
    // daemon s1 once touched this run (owner tag), but an external
    // executor has since reported RUNNING over the wire (attempt >= 1,
    // SetRunStatus's shape) and may still be live
    runner.record(TaskRun("ext", "k", 0, "created",
      System.currentTimeMillis(), 0L, None))
    runner.addRunLog("ext", "k", Scheduler.OwnerPrefix + "s1")
    runner.record(TaskRun("ext", "k", 1, "running",
      System.currentTimeMillis(), 0L, None))
    val calls = new AtomicInteger(0)
    val s1 = new Scheduler(runner, "s1", _ => Some(() => calls.incrementAndGet()))
    assert(s1.tick().isEmpty && calls.get() == 0)
  }

  test("auto-compaction policy: fires above compactAboveFactor x live " +
       "runs, off by default") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 2, backoffMs = 1)
    // one live run carrying a long attempt history
    for (a <- 1 to 10)
      runner.record(TaskRun("t", "k", a, "failed", 1L, 2L, Some("x")))
    val off = new Scheduler(runner, "s", _ => None)
    assert(off.maybeCompact() == 0 && runner.ledgerRecords() == 10L,
      "default (0) must never compact — per-attempt history is evidence")
    val on = new Scheduler(runner, "s", _ => None, compactAboveFactor = 5)
    assert(on.maybeCompact() == 9 && runner.ledgerRecords() == 1L)
    // under the threshold the policy stays quiet
    assert(on.maybeCompact() == 0)
    // current state survives compaction
    assert(runner.latestRun("t", "k").exists(r =>
      r.status == "failed" && r.attempt == 10))
  }

  test("the background poll loop executes without explicit ticks") {
    val runner = new TaskRunner(spark, freshDir(), maxAttempts = 2, backoffMs = 1)
    val calls = new AtomicInteger(0)
    val sched = new Scheduler(runner, "s",
      _ => Some(() => calls.incrementAndGet()), pollIntervalMs = 20L).start()
    try {
      createdRun(runner, "bg", "k")
      val deadline = System.currentTimeMillis() + 10000
      while (calls.get() == 0 && System.currentTimeMillis() < deadline)
        Thread.sleep(20)
      assert(calls.get() == 1)
      val deadline2 = System.currentTimeMillis() + 10000
      while (runner.latestRun("bg", "k").get.status != "success" &&
             System.currentTimeMillis() < deadline2) Thread.sleep(20)
      assert(runner.latestRun("bg", "k").get.status == "success")
    } finally sched.stop()
  }
}
