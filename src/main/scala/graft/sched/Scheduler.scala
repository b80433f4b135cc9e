package graft.sched

import scala.collection.concurrent.TrieMap

/** The always-on coordinator scheduler — the loop that turns REGISTRATION
  * into EXECUTION (reference coordinator/scheduler.go:60-91 `Scheduler.
  * Start`: poll unfinished task runs, spawn an executor per run;
  * coordinator/executor.go:42-117 `Executor.RunTask`: lock the task and
  * run, skip non-pending, set RUNNING + scheduler id, execute, record the
  * outcome). Without it, a wire client's CreateTaskRun lands a `created`
  * ledger row that nothing ever executes; with it, the Tasks service, the
  * ledger, and the task bodies close into a working lifecycle.
  *
  * Spark-first shape: the daemon is METADATA-scale — it never touches
  * data. Each claimed run executes its registered body through
  * [[TaskRunner.run]], which already provides the execution semantics the
  * reference splits across executor + spawner: cross-process claim via the
  * stateDir [[Locker]] (a racing scheduler gets "locked" and moves on, so
  * N daemons sharing a ledger execute each run exactly once),
  * retry/backoff, `maxJobDuration` enforcement through Spark job-group
  * cancellation, durable attempt records behind the [[FenceGuard]], and
  * resume (a succeeded run is never re-run). Cancellation is honored
  * mid-run: a wire SetRunStatus(CANCELLED) latches [[TaskRunner.cancel]],
  * which kills the attempt's Spark job group and stops the retry loop.
  *
  * Task bodies are bound by name from a registry (`bodies`), the same
  * durable stand-in this repo uses for the reference's serialized task
  * targets: a restarted daemon re-binds by name and picks up where the
  * ledger says work remains. A run whose task has no body bound HERE is
  * left untouched — it belongs to a daemon that has the binding (the
  * reference's task-distribution split).
  */
final class Scheduler(
    runner: TaskRunner,
    /** Scheduler identity, recorded per executed run (the reference's
      * SetRunSchedulerID, scheduling.proto SetRunSchedulerIDRequest). */
    val id: String,
    /** Task name → executable body; None = not bound on this daemon. */
    bodies: String => Option[() => Any],
    pollIntervalMs: Long = 100L,
    maxConcurrent: Int = 4,
    /** Cron-scheduled tasks (task name → 5-field cron expression) — the
      * reference's SCHEDULE run trigger (scheduling/task_run.go:201-210
      * ScheduleTrigger; RequestScheduleChange stores the string on the
      * resource). Re-evaluated every poll so schedule changes take
      * effect live; see [[Scheduler.catalogSchedules]] for the
      * wire-registered form. */
    schedules: () => Seq[(String, String)] = () => Nil,
    /** Upstream task names per task — the executor's dependency wait
      * (reference coordinator/executor.go:100-110
      * waitForPendingDependencies): a run whose upstreams (same runKey)
      * have not all succeeded is left for a later tick; a run whose
      * upstream terminally failed is recorded `upstream_failed` (served
      * as CANCELLED on the wire, the reference's DependencyFailed →
      * SetRunStatus(CANCELLED) branch) without executing. */
    deps: String => Seq[String] = _ => Nil,
    /** How often the poll loop reconciles orphans — the reference's
      * TaskStatusSyncInterval (coordinator/scheduler.go:66-72, 94): every
      * interval the daemon itself runs [[TaskRunner.syncUnfinishedRuns]],
      * so a crashed coordinator's orphaned `running` rows re-queue with
      * no client RPC in the loop (self-healing fleet, not healing on
      * request). */
    syncIntervalMs: Long = 10000L,
    /** How long [[stop]] waits for in-flight runs to finish before
      * interrupting them (interrupted runs re-queue as `pending`). */
    stopDrainMs: Long = 30000L,
    /** Minimum age of a `running` row before the automatic sync treats a
      * free claim as a crash (wire-external executors hold no claim; a
      * fresh RUNNING report must not re-queue a live run — only the
      * explicit SyncUnfinishedRuns RPC sweeps regardless of age). */
    orphanAfterMs: Long = 300000L,
    /** Opt-in automatic ledger compaction: when > 0, the sync-cadence
      * tick compacts once total attempt records exceed this factor times
      * the live-run count ([[TaskRunner.compactLedger]] — the reference
      * prunes its task-run store; here pruning is an explicit policy
      * because per-attempt history is evidence). 0 (default) = never:
      * the operator compacts by hand, or registers a compaction task on
      * the `schedules` hook. */
    compactAboveFactor: Int = 0) {

  @volatile private var stopped = false
  @volatile private var lastSyncMs = 0L
  // runs THIS daemon is currently executing (cheap local guard; the real
  // cross-daemon exclusion is the runner's claim lock)
  private val inFlight = TrieMap.empty[(String, String), Unit]

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(
    maxConcurrent,
    (r: Runnable) => {
      val t = new Thread(r, s"graft-scheduler-$id-worker")
      t.setDaemon(true)
      t
    })

  private val poller = new Thread(() => {
    while (!stopped) {
      try dispatch()
      catch { case _: InterruptedException => case e: Throwable =>
        org.slf4j.LoggerFactory.getLogger("graft.Scheduler")
          .warn(s"scheduler $id poll tick failed: ${e.getMessage}") }
      try Thread.sleep(pollIntervalMs)
      catch { case _: InterruptedException => () }
    }
  }, s"graft-scheduler-$id")
  poller.setDaemon(true)

  /** Start the poll loop (daemon threads; [[stop]] to end). */
  def start(): Scheduler = { poller.start(); this }

  /** Graceful shutdown: stop claiming new runs, DRAIN in-flight runs
    * (up to `stopDrainMs`), then interrupt what remains — the interrupt
    * path re-queues those runs as `pending` for a restarted daemon. The
    * old shutdownNow-first shape made a clean stop WORSE than a crash:
    * the interrupted attempt recorded terminal `failed` (which no
    * reconcile re-queues) and the retry loop spawned a duplicate body
    * thread into a dying pool. */
  def stop(): Unit = {
    stopped = true
    poller.interrupt()
    poller.join(5000)
    pool.shutdown() // no new work; in-flight runs keep their threads
    val drained =
      try pool.awaitTermination(stopDrainMs,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      catch { case _: InterruptedException => false }
    if (!drained) {
      pool.shutdownNow() // interrupt stragglers → TaskRunner re-queues
      try pool.awaitTermination(5000L,
        java.util.concurrent.TimeUnit.MILLISECONDS)
      catch { case _: InterruptedException => () }
      ()
    }
  }

  /** Unfinished = a run whose latest record still wants execution — the
    * Tasks service's GetUnfinishedRuns view. `running` is included like
    * the reference (executor.go:96: PENDING or RUNNING are runnable): a
    * crashed daemon leaves `running` rows, and re-claiming them is how a
    * restart resumes; a LIVE daemon owner's claim lock makes the re-claim
    * a harmless "locked" no-op. But a wire-EXTERNAL executor that
    * reported RUNNING holds no claim lock, so direct claims apply the
    * same `orphanAfterMs` age gate as the sync pass — only a stale
    * RUNNING row (no report for the threshold) is presumed crashed;
    * external executors keep long runs alive by re-reporting RUNNING
    * (SetRunStatus stamps the report time). */
  private def unfinished(): Seq[TaskRun] = {
    val cutoff = System.currentTimeMillis() - orphanAfterMs
    runner.latestRuns().filter(r => Scheduler.Runnable(r.status) &&
      (r.status != "running" || r.startMs <= cutoff || ownOrphan(r)))
  }

  // (task, runKey) → (run-log file stamp, verdict): the sidecar is
  // re-read only when the log file actually changed — without this, a
  // multi-daemon deployment paid a full log read UNDER THE LEDGER LOCK
  // per poll tick per fresh foreign running row, for the whole duration
  // of every long run another daemon executes
  private val ownCache = TrieMap.empty[(String, String), ((Long, Long), Boolean)]

  /** Is this fresh `running` row OUR OWN dead predecessor's marker? The
    * age gate protects claimless wire-external executors, but a daemon
    * that crashed and restarted under the same id should resume its own
    * rows immediately (same identity ⇒ the predecessor is provably not
    * running — one id, one process). Own-ness is read from the run-log
    * owner tag execute() stamps inside the claim; only the daemon's
    * attempt-0 marker qualifies (wire RUNNING reports land at attempt
    * ≥ 1 — SetRunStatus's adoption guard — so an external executor that
    * picked the run up later is never swept by a stale owner tag). Runs
    * this live process is already executing are skipped before any IO;
    * verdicts are cached on the log file's stamp, so steady-state
    * foreign rows cost one stat per tick, not a log read. */
  private def ownOrphan(r: TaskRun): Boolean =
    r.attempt == 0 && !inFlight.contains((r.task, r.runKey)) && {
      val k = (r.task, r.runKey)
      val st = runner.runLogsStamp()
      ownCache.get(k) match {
        case Some((s, v)) if s == st => v
        case _ =>
          val v = runner.runLogs(r.task, r.runKey).reverseIterator
            .collectFirst { case l if l.startsWith(Scheduler.OwnerPrefix) =>
              l.stripPrefix(Scheduler.OwnerPrefix) }
            .contains(id)
          ownCache.put(k, (st, v))
          v
      }
    }

  /** Mint a `created` ledger run for each schedule's latest due tick that
    * has no run yet — registration + a schedule string turns into
    * EXECUTION with no client in the loop. Tick keys are the grid-aligned
    * due instant (UTC), so N daemons over one ledger mint the same key
    * and the run claim still executes it exactly once (a raced double
    * `created` row is harmless — same key, the index keeps one state).
    * On first sight of a schedule the latest PAST due tick is minted
    * (one catch-up run, the reference's register-then-run shape);
    * thereafter, one run per new tick. A malformed expression is logged
    * and skipped — one bad schedule must not kill the daemon. */
  private def mintDueRuns(): Unit =
    schedules().foreach { case (task, expr) =>
      try {
        CronSchedule(expr).lastDue(System.currentTimeMillis()).foreach { tick =>
          val key = java.time.Instant.ofEpochMilli(tick).toString
          if (runner.latestRun(task, key).isEmpty) {
            runner.record(TaskRun(task, key, 0, "created",
              System.currentTimeMillis(), 0L, None))
            // durable trigger provenance: the Tasks service reads this
            // back as a ScheduleTrigger (TriggerType SCHEDULE) instead of
            // the default ON_APPLY — scheduling.proto:97-100,126-129
            runner.addRunLog(task, key, Scheduler.CronLogPrefix + expr)
          }
        }
      } catch {
        case e: IllegalArgumentException =>
          org.slf4j.LoggerFactory.getLogger("graft.Scheduler")
            .warn(s"schedule for task $task is malformed, skipping: ${e.getMessage}")
      }
    }

  /** Dependency verdict for one run: Ready to execute, Waiting on
    * upstreams still in flight, or the failed upstream names when an
    * upstream terminally failed (same-runKey convention: a pipeline's
    * tasks share the run key, exactly how [[Dag.run]] keys chains). */
  private def depVerdict(task: String, runKey: String): Either[Seq[String], Boolean] = {
    val ups = deps(task)
    if (ups.isEmpty) Right(true)
    else {
      val states = ups.map(u => u -> runner.latestRun(u, runKey).map(_.status))
      val failed = states.collect {
        case (u, Some(st))
          if st == "failed" || st == "timeout" || st == "cancelled" ||
             st == "upstream_failed" => u
      }
      if (failed.nonEmpty) Left(failed)
      else if (states.forall(_._2.exists(st => st == "success" || st == "skipped")))
        Right(true)
      else Right(false) // upstreams pending — wait for a later tick
    }
  }

  /** One asynchronous poll tick: submit every claimable unfinished run to
    * the worker pool. */
  private def dispatch(): Unit = {
    mintDueRuns()
    val now = System.currentTimeMillis()
    if (now - lastSyncMs >= syncIntervalMs) {
      lastSyncMs = now
      val n = runner.syncUnfinishedRuns(orphanAfterMs)
      if (n > 0)
        org.slf4j.LoggerFactory.getLogger("graft.Scheduler")
          .info(s"scheduler $id re-queued $n orphaned running run(s)")
      maybeCompact()
    }
    unfinished().foreach { r =>
      bodies(r.task).foreach { body =>
        val k = (r.task, r.runKey)
        depVerdict(r.task, r.runKey) match {
          case Right(false) => () // dependency wait
          case Left(failedUps) =>
            if (inFlight.putIfAbsent(k, ()).isEmpty)
              try runner.recordUpstreamFailed(r.task, r.runKey, failedUps,
                orphanAfterMs)
              finally inFlight.remove(k)
          case Right(true) =>
            if (inFlight.putIfAbsent(k, ()).isEmpty)
              pool.execute(() =>
                try execute(r, body)
                finally inFlight.remove(k))
        }
      }
    }
  }

  /** One SYNCHRONOUS tick: execute every claimable unfinished run to
    * completion on the calling thread, returning the final record per run
    * executed. Deterministic — what the gated lifecycle queries and specs
    * drive instead of sleeping on the poll loop. */
  def tick(): Seq[TaskRun] = {
    mintDueRuns()
    unfinished().flatMap { r =>
      bodies(r.task) match {
        case Some(body) =>
          val k = (r.task, r.runKey)
          depVerdict(r.task, r.runKey) match {
            case Right(false) => None // dependency wait
            case Left(failedUps) =>
              if (inFlight.putIfAbsent(k, ()).isEmpty)
                try Some(runner.recordUpstreamFailed(r.task, r.runKey,
                  failedUps, orphanAfterMs))
                finally inFlight.remove(k)
              else None
            case Right(true) =>
              if (inFlight.putIfAbsent(k, ()).isEmpty)
                try Some(execute(r, body)) finally inFlight.remove(k)
              else None
          }
        case None => None
      }
    }
  }

  /** The auto-compaction policy check — O(1) against the runner's
    * maintained counters; compaction itself is O(records), amortized by
    * only firing once the attempt history exceeds `compactAboveFactor`
    * times the live-run count. Package-visible so SchedulerSpec can
    * drive the policy deterministically. */
  private[sched] def maybeCompact(): Int =
    if (compactAboveFactor <= 0) 0
    else {
      val live = runner.latestRuns().size
      if (live > 0 && runner.ledgerRecords() > compactAboveFactor.toLong * live) {
        val dropped = runner.compactLedger()
        if (dropped > 0)
          org.slf4j.LoggerFactory.getLogger("graft.Scheduler")
            .info(s"scheduler $id compacted ledger: dropped $dropped attempt record(s)")
        dropped
      } else 0
    }

  /** Claim + execute one run. Mirrors executor.go's sequence: mark RUNNING
    * (only visible while the attempt is live — the runner's own attempt
    * records supersede it), execute under the claim, stamp the scheduler
    * id on any run this daemon actually executed. */
  private def execute(r: TaskRun, body: () => Any): TaskRun = {
    // RUNNING marker at attempt 0: the index keeps max-attempt records, so
    // this can never bury a real attempt outcome, only the `created` row.
    // Skipped when the run already shows running — re-polling a run that
    // another daemon holds the claim on must not grow the ledger per tick.
    if (r.status != "running")
      runner.record(TaskRun(r.task, r.runKey, 0, "running",
        System.currentTimeMillis(), 0L, None))
    // claim-time owner stamp: the durable breadcrumb [[ownOrphan]] reads
    // so a restart under the same id resumes its own crashed rows without
    // the external-executor age wait. Stamped as the FIRST statement of
    // the claimed body — i.e. INSIDE the run claim — so a daemon that
    // loses the claim race ("locked") never stamps: a pre-claim stamp
    // let every non-owner daemon overwrite the true owner's breadcrumb
    // once per poll tick for a long run's whole duration (log growth +
    // a lost fast-resume for the real owner). One O(1) fsynced line per
    // ATTEMPT LOOP (the AtomicBoolean dedups retries), symmetric with
    // the scheduler-id log below; a read-then-dedup here was O(log
    // file) per run, an O(n²) tail across a drain (measured 81 runs/s
    // vs 266). A SIGKILL between claim grant and stamp loses only the
    // fast-resume — the age gate still recovers the run.
    val stamped = new java.util.concurrent.atomic.AtomicBoolean(false)
    val (rec, _) = runner.run(r.task, r.runKey) {
      if (stamped.compareAndSet(false, true))
        runner.addRunLog(r.task, r.runKey, Scheduler.OwnerPrefix + id)
      body()
    }
    if (rec.status != "locked")
      runner.addRunLog(r.task, r.runKey, Scheduler.LogPrefix + id)
    rec
  }
}

object Scheduler {
  /** Run-log prefix that carries the executing scheduler's id (the
    * SetRunSchedulerID sidecar the Tasks service reads back as field 17 of
    * TaskRunMetadata). */
  val LogPrefix = "__scheduler__:"

  /** Run-log prefix stamped at CLAIM time with the executing daemon's id
    * — the restart-resume breadcrumb: a `running` row whose latest owner
    * tag matches a (re)started daemon's own id bypasses the external-
    * executor staleness gate (same id ⇒ the stamper is this daemon's
    * dead predecessor). */
  val OwnerPrefix = "__owner__:"

  /** Run-log prefix that records the cron expression that minted a run —
    * the Tasks service reports such runs with a ScheduleTrigger and
    * TriggerType SCHEDULE (reference scheduling.proto:97-100, 126-129). */
  val CronLogPrefix = "__cron__:"

  /** Ledger statuses the daemon considers runnable. */
  val Runnable: Set[String] = Set("created", "pending", "running")

  /** (task, cron) pairs from a catalog's registered schedule strings —
    * the wire form: RequestScheduleChange / the schedule field on
    * Create* land as a `__schedule` resource property (MetadataServe
    * setMeta), direct catalog users may set plain `schedule`. Task names
    * follow the task-per-resource-name convention the ledger and the
    * lineage export already use — so schedules are ONE PER NAME: when
    * several variants of a resource carry schedule strings, the
    * lexicographically-greatest (kind, id) wins deterministically (the
    * newest variant under the repo's timestamp-suffixed variant naming;
    * RequestScheduleChange on a newer variant supersedes the old one).
    * Pinned by SchedulerSpec's variant-collision case. */
  def catalogSchedules(cat: graft.catalog.Catalog): Seq[(String, String)] =
    cat.allProperties.collect {
      case (k, ps) if ps.get("__schedule").orElse(ps.get("schedule"))
        .exists(_.nonEmpty) =>
        (graft.catalog.ResourceId.parse(k.id).name, (k.kind, k.id),
          ps.get("__schedule").orElse(ps.get("schedule")).get)
    }
      .groupBy(_._1)
      .map { case (task, vs) => task -> vs.maxBy(_._2)._3 }
      .toSeq.sortBy(_._1)
}
