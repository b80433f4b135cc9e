package graft.sched

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import graft.SparkSpec

/** The ffsync.Locker seam (reference ffsync/locker.go:110) and its
  * TaskRunner integration: concurrent runners sharing one stateDir must
  * execute each (task, runKey) exactly once and never lose each other's
  * ledger records. */
class LockerSpec extends SparkSpec {

  private def freshDir() =
    graft.TempDirs.create("graft_lock").toString

  test("MemoryLocker: mutual exclusion + non-blocking try") {
    val l = new MemoryLocker
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val t = new Thread(() => l.withLock("k") {
      held.countDown(); release.await(10, TimeUnit.SECONDS); ()
    })
    t.start()
    assert(held.await(5, TimeUnit.SECONDS))
    assert(l.tryWithLock("k")(1).isEmpty)   // held elsewhere
    assert(l.tryWithLock("k2")(2).contains(2)) // other keys independent
    release.countDown(); t.join(5000)
    assert(l.tryWithLock("k")(3).contains(3)) // released
  }

  test("Locker.forDir: ONE shared instance per dir — a remote-scheme dir's " +
    "MemoryLocker must exclude across call sites, not be rebuilt per call") {
    // forDir is called per OPERATION (CatalogStore.save/load); a fresh
    // MemoryLocker each time would hold a private lock map = no exclusion
    val dir = "s3a://bucket/graft_cat_" + System.nanoTime()
    assert(Locker.forDir(dir) eq Locker.forDir(dir))
    val l1 = Locker.forDir(dir)
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val t = new Thread(() => l1.withLock("catalog") {
      held.countDown(); release.await(10, TimeUnit.SECONDS); ()
    })
    t.start()
    assert(held.await(5, TimeUnit.SECONDS))
    // a DIFFERENT forDir call for the same dir sees the same lock
    assert(Locker.forDir(dir).tryWithLock("catalog")(1).isEmpty)
    release.countDown(); t.join(5000)
    // local dirs share too (FileLocker would exclude via the lock files
    // regardless, but the instance cache applies uniformly)
    val local = freshDir()
    assert(Locker.forDir(local) eq Locker.forDir(local))
  }

  test("reentrant acquire: nested withLock on the same key runs the body " +
    "on both bindings instead of OverlappingFileLockException") {
    val fl = new FileLocker(freshDir())
    assert(fl.withLock("k") { fl.withLock("k") { 42 } } == 42)
    assert(fl.withLock("k") { fl.tryWithLock("k")(7) }.contains(7))
    val ml = new MemoryLocker
    assert(ml.withLock("k") { ml.withLock("k") { 42 } } == 42)
  }

  test("FileLocker: exclusion across instances (the two-process topology) " +
    "and a real OS lock on disk") {
    val dir = freshDir()
    // two INSTANCES emulate two coordinators; the JVM-global gate keyed by
    // lock-file path makes same-JVM contention block/try-fail instead of
    // throwing OverlappingFileLockException
    val a = new FileLocker(dir)
    val b = new FileLocker(dir)
    val held = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val t = new Thread(() => a.withLock("task-1") {
      held.countDown(); release.await(10, TimeUnit.SECONDS); ()
    })
    t.start()
    assert(held.await(5, TimeUnit.SECONDS))
    assert(b.tryWithLock("task-1")(1).isEmpty, "instance B must see A's lock")
    // the lock is a REAL OS file lock: a raw channel on the same file
    // cannot acquire it (same-JVM overlap surfaces as the documented
    // OverlappingFileLockException — proof the FileLock is held)
    val lockFile = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      .toArray.map(_.toString).find(_.contains("task-1"))
    assert(lockFile.isDefined)
    val raw = java.nio.channels.FileChannel.open(
      java.nio.file.Paths.get(lockFile.get),
      java.nio.file.StandardOpenOption.WRITE)
    try intercept[java.nio.channels.OverlappingFileLockException](raw.tryLock())
    finally raw.close()
    release.countDown(); t.join(5000)
    assert(b.tryWithLock("task-1")(2).contains(2))
    // distinct keys never block each other
    assert(a.tryWithLock("other")(3).contains(3))
  }

  test("two TaskRunners sharing a stateDir: every task claimed exactly once, " +
    "no ledger records lost") {
    val dir = freshDir()
    val r1 = new TaskRunner(spark, dir, backoffMs = 1)
    val r2 = new TaskRunner(spark, dir, backoffMs = 1)
    val tasks = (1 to 6).map(i => s"task$i")
    val executions = tasks.map(t => t -> new AtomicInteger(0)).toMap
    val pool = Executors.newFixedThreadPool(4)
    val start = new CountDownLatch(1)
    val statuses = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    for (runner <- Seq(r1, r2); t <- tasks)
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          val (rec, _) = runner.run(t, "k") {
            executions(t).incrementAndGet()
            Thread.sleep(5) // widen the race window
            t
          }
          statuses.add(s"$t:${rec.status}")
        }
      })
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    // exactly-once execution per task, regardless of which runner won
    tasks.foreach(t => assert(executions(t).get() == 1,
      s"$t ran ${executions(t).get()} times"))
    // losers report locked or skipped (if the winner finished first) —
    // never a second success
    import scala.jdk.CollectionConverters._
    statuses.asScala.foreach { s =>
      assert(s.split(':')(1) match {
        case "success" | "locked" | "skipped" => true
        case _ => false
      }, s)
    }
    // the DURABLE ledger agrees: exactly one success row per task, and no
    // record was lost to a concurrent rewrite (both runners' appends
    // serialize through the cross-process ledger lock)
    val ledger = r1.runs()
    tasks.foreach { t =>
      assert(ledger.count(r => r.task == t && r.status == "success") == 1, t)
    }
    // a THIRD runner (fresh process analogue) resumes: everything skipped
    val r3 = new TaskRunner(spark, dir, backoffMs = 1)
    tasks.foreach { t =>
      val (rec, _) = r3.run(t, "k")(fail("must not re-execute"))
      assert(rec.status == "skipped")
    }
  }

  test("Dag: a chain whose head is claimed elsewhere reports locked, " +
    "records nothing, and never executes downstream") {
    val dir = freshDir()
    val locker = new FileLocker(s"$dir/.locks")
    val runner = new TaskRunner(spark, dir, backoffMs = 1)
    val ran = new AtomicInteger(0)
    // hold the head task's claim as a concurrent coordinator would
    val claimHeld = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => locker.withLock("run!a!k") {
      claimHeld.countDown(); release.await(10, TimeUnit.SECONDS); ()
    })
    holder.start()
    assert(claimHeld.await(5, TimeUnit.SECONDS))
    try {
      val recs = Dag.run(runner, "k",
        Map("a" -> (() => ran.incrementAndGet()),
            "b" -> (() => ran.incrementAndGet())),
        Map("b" -> Seq("a")))
      assert(recs.map(_.status) == Seq("locked", "locked"))
      assert(ran.get() == 0)
      // no misleading rows in the durable ledger — the claim holder's
      // coordinator owns this chain's records
      assert(runner.runs().isEmpty)
    } finally { release.countDown(); holder.join(5000) }
  }

  test("Dag: mixed upstreams — failed here AND claimed elsewhere — record " +
    "upstream_failed naming ONLY the genuinely failed subset") {
    val dir = freshDir()
    val locker = new FileLocker(s"$dir/.locks")
    val runner = new TaskRunner(spark, dir, backoffMs = 1, maxAttempts = 1)
    val claimHeld = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => locker.withLock("run!beta!k") {
      claimHeld.countDown(); release.await(10, TimeUnit.SECONDS); ()
    })
    holder.start()
    assert(claimHeld.await(5, TimeUnit.SECONDS))
    try {
      // alpha fails in THIS coordinator, beta is mid-flight in another
      // one; gamma depends on both
      val recs = Dag.run(runner, "k",
        Map("alpha" -> (() => sys.error("boom")),
            "beta"  -> (() => 1),
            "gamma" -> (() => 1)),
        Map("gamma" -> Seq("alpha", "beta")))
      val byTask = recs.map(r => r.task -> r).toMap
      assert(byTask("alpha").status == "failed")
      assert(byTask("beta").status == "locked")
      assert(byTask("gamma").status == "upstream_failed")
      // the durable row must not name beta — it may yet succeed elsewhere
      val msg = byTask("gamma").error.getOrElse("")
      assert(msg.contains("alpha") && !msg.contains("beta"), msg)
      val ledgerC = runner.runs().filter(_.task == "gamma")
      assert(ledgerC.nonEmpty &&
        ledgerC.forall(r => !r.error.getOrElse("").contains("beta")))
    } finally { release.countDown(); holder.join(5000) }
  }
}
